package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.ext.{MinHashLSH, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.functions.TextFunctions

/** Oracle-checked queries for the north-star LLM-data-pipeline operators
  * (dedup / similarity / text analysis / multimodal). The ext operators
  * are built on a portable md5-based hash and left-to-right double folds,
  * so the DuckDB oracle replays them EXACTLY — including cosine values —
  * with no tolerance window.
  *
  * Near-dup fixtures: the testdata has no true near-duplicates, so the
  * dedup queries union `documents` with a mutated copy of itself
  * (doc_id + 100000, last 8 chars dropped) — planted pairs the pipeline
  * must find; the oracle plants the same pairs.
  */
object ExtQueries {
  import Fixtures._

  private def t(s: SparkSession, d: String, name: String) = Tables.load(s, d, name)

  /** documents ∪ mutated copies — the planted near-dup corpus. */
  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val mutated = t(s, d, "documents")
      .select((col("doc_id") + 100000).cast("long").as("id"),
        expr("substring(text, 1, greatest(length(text) - 8, 0))").as("text"))
    docs.unionByName(mutated)
  }

  /** documents ∪ two mutation levels — the clustered near-dup corpus:
    * each doc_id yields a 3-clique of near-duplicates (drop 8 / drop 16
    * trailing chars), so components must merge transitively.
    */
  private def plantedDocs3(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    def mut(off: Int, drop: Int) = t(s, d, "documents")
      .select((col("doc_id") + off).cast("long").as("id"),
        expr(s"substring(text, 1, length(text) - $drop)").as("text"))
    docs.unionByName(mut(100000, 8)).unionByName(mut(200000, 16))
  }

  // ----------------------------------------------------------- queries

  def minhashSignature(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        MinHashLSH.signature(MinHashLSH.shingles(col("text"))).as("sig"))
      .select(col("doc_id"),
        concat_ws("-", transform(col("sig"), x => x.cast("string"))).as("sig_str"))
      .orderBy("doc_id")

  def nearDupPairs(s: SparkSession, d: String): DataFrame =
    MinHashLSH.nearDupPairs(plantedDocs(s, d), "id", "text", threshold = 0.6)
      .orderBy("a", "b")

  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        round(MinHashLSH.jaccard(
          MinHashLSH.shingles(col("text")),
          MinHashLSH.shingles(expr("substring(text, 1, greatest(length(text) - 8, 0))"))), 4)
          .as("jaccard"))
      .orderBy("doc_id")

  def simhashText(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.simhash32(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** SimHash-banded near-dup pairs over the planted 2-level corpus. */
  def simhashNearDupQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.simhashNearDup(plantedDocs(s, d), "id", "text")
      .orderBy("id_a", "id_b")

  /** Batch replay of the streaming near-dup probe
    * ([[graft.streaming.StreamNearDup]]): index = documents, probes = the
    * drop-8 mutations (doc_id + 100000) — the exact code path the stream
    * runs per microbatch, applied to a batch frame so DuckDB can replay
    * it.
    */
  def streamNearDupReplay(s: SparkSession, d: String): DataFrame = {
    val corpus = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val probes = t(s, d, "documents")
      .select((col("doc_id") + 100000).cast("long").as("id"),
        expr("substring(text, 1, greatest(length(text) - 8, 0))").as("text"))
    val idx = graft.streaming.StreamNearDup.buildIndex(corpus, "id", "text")
    graft.streaming.StreamNearDup.probe(probes, idx, "id", "text")
      .orderBy("probe_id", "corpus_id")
  }

  /** Batch replay of the MinHash streaming probe
    * ([[graft.streaming.StreamNearDup.probeMinHash]]): signature-band
    * candidates, MinHash-estimate verify — the Jaccard-based sibling of
    * `stream_near_dup_replay`'s hamming probe, over the same planted
    * drop-8 corpus.
    */
  def streamMinHashProbeReplay(s: SparkSession, d: String): DataFrame = {
    val corpus = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val probes = t(s, d, "documents")
      .select((col("doc_id") + 100000).cast("long").as("id"),
        expr("substring(text, 1, greatest(length(text) - 8, 0))").as("text"))
    val idx = graft.streaming.StreamNearDup.buildMinHashIndex(corpus, "id", "text")
    graft.streaming.StreamNearDup.probeMinHash(probes, idx, "id", "text")
      .orderBy("probe_id", "corpus_id")
  }

  /** Batch replay of the corpus-probe exact dedup
    * ([[graft.streaming.StreamDedup.dedupAgainstIndex]]): the indexed
    * corpus is the even doc_ids, the probe stream is every document —
    * survivors are exactly the odd ids.
    */
  def streamDedupIndexReplay(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val idx = graft.streaming.StreamDedup.fingerprintIndex(corpus)
    graft.streaming.StreamDedup.dedupAgainstIndex(docs, idx)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  /** Batch replay of the embedding streaming probe
    * ([[graft.streaming.StreamNearDup.probeEmbed]]): hyperplane-bucket
    * candidates in two plane families, exact-cosine verify against the
    * vector riding on the index row — the cosine-family sibling of
    * `stream_near_dup_replay` (hamming) and `stream_minhash_probe_replay`
    * (Jaccard). Probes are the planted +0.01-perturbation copies
    * (cosine ≈ 0.998 to their source vectors) probing the original
    * corpus.
    */
  def streamEmbedProbeReplay(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val corpus = e.select(col("vec_id").cast("long").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val probes = e.select((col("vec_id") + 100000).cast("long").as("id"),
      zip_with(col("embedding"), sequence(lit(0L), lit(63L)),
        (x, j) => x.cast("double") + lit(0.01) * ((j % 3) - 1).cast("double")).as("v"))
    val idx = graft.streaming.StreamNearDup.buildEmbedIndex(corpus, "id", "v")
    graft.streaming.StreamNearDup.probeEmbed(probes, idx, "id", "v")
      .orderBy("probe_id", "corpus_id")
  }

  /** Batch replay of the T1/T2 job-status state machine
    * ([[graft.streaming.StatusStream.trackJobs]], mapGroupsWithState —
    * VERDICT r7 #5: it was spec-only). mapGroupsWithState on a BATCH
    * Dataset runs each group's whole event history through
    * `updateJob` with empty initial state — the same fold the streaming
    * query applies micro-batch by micro-batch — so the oracle can walk
    * the sorted per-job event sequence recursively. Events come from the
    * events table with the event vocabulary mapped onto job statuses;
    * `view` is left unmapped to exercise `unknown_*` normalization, and
    * `purchase`/`error` map to terminal statuses so absorption is
    * exercised on every job that ever completes/fails.
    */
  def statusStreamReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = t(s, d, "events").select(
      concat(lit("job_"), col("user_id")).as("job_id"),
      when(col("event_type") === "signup", lit("submitted"))
        .when(col("event_type") === "click", lit("in_progress"))
        .when(col("event_type") === "purchase", lit("completed"))
        .when(col("event_type") === "error", lit("failed"))
        .otherwise(col("event_type")).as("status"),
      col("event_id").cast("long").as("ts"))
      .as[graft.streaming.StatusEvent]
    graft.streaming.StatusStream.trackJobs(ev).toDF()
      .select("job_id", "status", "since", "transitions", "terminal")
      .orderBy("job_id")
  }

  /** embeddings ∪ deterministically perturbed copies — the planted
    * near-dup vector corpus: component j of the copy of vec_id v gets
    * +0.01*((j%3)-1), a nudge of norm ~0.065 against the unit-normalized
    * testdata vectors, so cosine(original, copy) ≈ 0.998 — near but not
    * exactly 1 (the arithmetic is a double cast + one literal
    * multiply-add, so a SQL oracle replays it bit-for-bit).
    */
  private def plantedVecs(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val base = e.select(col("vec_id").cast("long").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val mut = e.select((col("vec_id") + 100000).cast("long").as("id"),
      zip_with(col("embedding"), sequence(lit(0L), lit(63L)),
        (x, j) => x.cast("double") + lit(0.01) * ((j % 3) - 1).cast("double")).as("v"))
    base.unionByName(mut)
  }

  /** Embedding-cosine near-dup pairs over the planted vector corpus. */
  def embedNearDupQ(s: SparkSession, d: String): DataFrame =
    Similarity.embedNearDup(plantedVecs(s, d), "id", "v")
      .orderBy("id_a", "id_b")

  /** Two-table LSH variant: same corpus, recall boosted by a second
    * independent hyperplane family, first-agreeing-table dedup.
    */
  def embedNearDupT2Q(s: SparkSession, d: String): DataFrame =
    Similarity.embedNearDup(plantedVecs(s, d), "id", "v", tables = 2)
      .orderBy("id_a", "id_b")

  /** k-NN join over the embeddings table (IVF cells, k=4). */
  def annKnnJoinQ(s: SparkSession, d: String): DataFrame =
    Similarity.knnJoin(t(s, d, "embeddings"))
      .orderBy("vec_id", "nn_rank")

  /** Batched IVF search: every 100th vector queries the index, nprobe=2. */
  def ivfSearchManyQ(s: SparkSession, d: String): DataFrame =
    ivfSearchManyAt(s, d, nprobe = 2)

  /** The same batch at nprobe=1 — paired with `ivf_search_many` so the
    * batched path's recall/cost dial is pinned by BOTH oracle rows (the
    * np1 result is the np2 result minus the neighbors living outside each
    * query's nearest cell), and by the planted-neighbor recall spec in
    * ExtSpec (VERDICT r3 "Next round" #6).
    */
  def ivfSearchManyNp1Q(s: SparkSession, d: String): DataFrame =
    ivfSearchManyAt(s, d, nprobe = 1)

  private def ivfSearchManyAt(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = t(s, d, "embeddings")
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").cast("long").as("qid"), col("embedding").as("q_vec"))
    Similarity.ivfSearchMany(e, queries, k = 3, nprobe = nprobe)
      .orderBy("qid", "nn_rank")
  }

  def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextAnalysis.rollingHash(col("text")).as("roll"))
      .orderBy("doc_id")

  def langId(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  def textQuality(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.meanWordLen(col("text")).as("mean_wlen"))
      .orderBy("doc_id")

  /** Benchmark decontamination flags: every 50th document's text is the
    * planted "benchmark"; the flag pass must mark exactly the documents
    * sharing an 8-word n-gram with it (at minimum the benchmark docs
    * themselves). The oracle replays the shingle sets and the overlap.
    */
  def decontaminateFlag(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0).select(col("text"))
    graft.ext.Decontaminate.withContaminationFlag(docs, "text", bench, "text")
      .select(col("doc_id"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** documents with PLANTED PII (the synthetic text has none): each doc
    * gets an email, a phone and an IP derived from doc_id appended.
    * Shared by `pii_scrub` and the `ingest_pipeline` composition.
    */
  private def plantedPiiDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1 555-"),
        lpad(col("doc_id").cast("string"), 4, "0"),
        lit(" node 10.0."), col("doc_id") % 256, lit(".7")).as("text"))

  /** PII scrub over the planted-identifier documents: the scrub must
    * replace all three identifier kinds with typed placeholders. The
    * oracle replays the same plant + the same RE2-compatible patterns.
    */
  def piiScrub(s: SparkSession, d: String): DataFrame =
    plantedPiiDocs(s, d)
      .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("scrubbed"))
      .orderBy("doc_id")

  /** The full ingest composition over the planted corpus: evens are
    * already-ingested (dedup drops them), survivors quality-filter, and
    * whatever remains is scrubbed — one stateless chain that runs
    * identically streaming and batch ([[graft.streaming.Ingest]]).
    */
  def ingestPipelineQ(s: SparkSession, d: String): DataFrame = {
    val planted = plantedPiiDocs(s, d)
    val idx = graft.streaming.StreamDedup.fingerprintIndex(
      planted.filter(col("doc_id") % 2 === 0))
    graft.streaming.Ingest.pipeline(planted, idx)
      .select("doc_id", "text")
      .orderBy("doc_id")
  }

  /** Multi-batch replay of the self-maintaining corpus sink
    * ([[graft.streaming.Ingest.ingestBatchCommitted]] — VERDICT r8 #3: the
    * cross-batch dedup/crash semantics were spec-only): the planted-PII
    * corpus splits into three deterministic micro-batches (doc_id % 3),
    * plus a cross-batch duplicate copy of every doc_id % 5 == 0 document
    * planted ONE batch later; the batches fold through
    * ingestBatchCommitted (batch i under id "b<i>") into
    * a fresh corpus+index and the FINAL corpus is the result.
    * First-arrival-by-batch-order decides survivors, so the DuckDB
    * oracle replays the sequential fold as one window rank over
    * (fingerprint, batch) — valid because quality filtering is
    * content-deterministic (a duplicate of a quality-dropped document
    * is never indexed, fails identically in its own batch, and leaves
    * the corpus unchanged either way). Texts are unique WITHIN each
    * batch by construction (the planted suffix embeds the source
    * doc_id; the copy lands in a different batch), so the fold's
    * arbitrary in-batch dropDuplicates survivor never makes the result
    * nondeterministic.
    */
  def ingestCorpusReplay(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/ingest_corpus")
    // fixed-size plant (doc_id < 250): the query certifies the FOLD —
    // cross-batch dedup, bloom routing, crash/replay semantics — whose
    // cost is per-batch by design; ingest_pipeline times the sf-scaled
    // stateless pass
    val planted = plantedPiiDocs(s, d).filter(col("doc_id") < 250)
    // one materialization of the fold input, shared by the three batch
    // slices (see trainIngestPlant); released per bench pass
    val seeded = graft.core.Caches.track(planted
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        (col("doc_id") % 3).cast("long").as("b"))
      .unionByName(planted.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).cast("long").as("doc_id"),
          col("text"), ((col("doc_id") + 1) % 3).cast("long").as("b")))
      .coalesce(8) // fixed-size plant; see trainIngestPlant
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    (0L until 3L).foreach { i =>
      graft.streaming.Ingest.ingestBatchCommitted(
        seeded.filter(col("b") === i).select("doc_id", "text"),
        corpus, index, s"b$i")
    }
    seeded.unpersist()
    graft.ext.ManifestTable.read(s, corpus)
      .select("doc_id", "text").orderBy("doc_id")
  }

  /** Batched multi-query search served FROM the persistent store: the
    * full embeddings table lands in the store (one append, cells seeded
    * from the 16 lowest ids — the [[ivfAssignSql]] assignment), then
    * every vec_id % 100 == 7 vector queries it at nprobe=2/top-3 in ONE
    * plan. The oracle is the same independent DuckDB IVF replay as
    * `ivf_search_many` — which also certifies the store round-trip
    * changes nothing about the search semantics.
    */
  def vectorStoreSearchMany(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/vector_store_many")
    val e = t(s, d, "embeddings")
    graft.ext.VectorStore.appendCommitted(e, root, "b0")
    val q = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").cast("long").as("qid"),
        transform(col("embedding"), x => x.cast("double")).as("q_vec"))
    graft.ext.VectorStore.searchMany(s, root, q, topK = 3, nprobe = 2)
      .orderBy("qid", "nn_rank")
  }

  /** Quantized-coarse-then-exact-rerank search over the same store
    * layout as [[vectorStoreSearch]]: the coarse pass ranks by int8
    * cosine reading ONLY the q8 column (~1/4 the scan bytes; the spec
    * pins ReadSchema), the rerank re-ranks the surviving candidate ids
    * by exact float cosine. The oracle replays the WHOLE two-pass
    * pipeline — the floor-quantization, the int8 coarse rank and cut,
    * the exact rerank — rather than assuming coarse == exact, so the
    * hash certifies the pipeline's semantics even if a true neighbor
    * were to fall outside the coarse cut.
    */
  def vectorStoreSearchQ8(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/vector_store_q8")
    val e = t(s, d, "embeddings")
    // manifest-committed: the rerank's candidate-id IN probe now prunes
    // files via the per-file vec_id blooms on top of the pushed-down scan
    graft.ext.VectorStore.appendCommitted(
      e.filter(col("vec_id") < 1000), root, "b0")
    graft.ext.VectorStore.appendCommitted(
      e.filter(col("vec_id") >= 1000), root, "b1")
    val q = e.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()(0).getSeq[Double](0)
    graft.ext.VectorStore.searchQuantized(s, root, q, nprobe = 2, topK = 10,
        rerank = 4, excludeId = Some(0L))
      .select(col("vec_id").cast("long").as("vec_id"), col("cos6"))
      .orderBy(col("cos6").desc, col("vec_id"))
  }

  /** Product-quantization training replay: the per-subspace Lloyd rounds
    * of [[graft.ext.Similarity.pqTrain]] (m=8 subspaces x ksub=16
    * codewords over the 64-dim corpus, 2 iterations), flattened to one
    * row per (sub, cid, dim). The oracle unrolls the identical
    * iterations in SQL — seed = the 16 lowest-id vectors' subvectors
    * re-keyed dense by id rank, argmin assign by left-to-right squared
    * L2 with cid tie-break, per-(sub, cell, dim) means rounded to 4
    * decimals — so hash-equality certifies the trained codebooks
    * bit-for-bit, the same contract as `ivf_kmeans_centroids`.
    */
  def pqCodebooks(s: SparkSession, d: String): DataFrame =
    graft.ext.Similarity.pqTrain(t(s, d, "embeddings"))
      .select(col("sub"), col("cid"), posexplode(col("cv")))
      .select(col("sub").cast("int").as("sub"), col("cid").cast("long").as("cid"),
        col("pos").cast("int").as("pos"), col("col").as("mval"))
      .orderBy("sub", "cid", "pos")

  /** ADC search over the PQ-encoded [[graft.ext.VectorStore]]: codebook
    * trained and frozen BEFORE the two appends (so every row carries
    * `pq_code` + `norm`), then the coarse pass ranks the 2 probed cells
    * by table-lookup cosine — reading ~m bytes of code per vector
    * instead of the float or int8 columns — and the top 40 candidates
    * rerank by exact float cosine. The oracle replays training, per-
    * subspace encoding, the LUT dots, and the subspace-order ADC fold
    * bit-exactly (every fold is the same left-to-right double sum), so
    * this row hash-checks the full PQ path, not a recall bound.
    */
  def vectorStoreSearchPq(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/vector_store_pq")
    val e = t(s, d, "embeddings")
    graft.ext.VectorStore.initPq(graft.ext.Similarity.pqTrain(e), root)
    graft.ext.VectorStore.appendCommitted(
      e.filter(col("vec_id") < 1000), root, "b0")
    graft.ext.VectorStore.appendCommitted(
      e.filter(col("vec_id") >= 1000), root, "b1")
    val q = e.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()(0).getSeq[Double](0)
    graft.ext.VectorStore.searchPq(s, root, q, nprobe = 2, topK = 10,
        rerank = 4, excludeId = Some(0L))
      .select(col("vec_id").cast("long").as("vec_id"), col("cos6"))
      .orderBy(col("cos6").desc, col("vec_id"))
  }

  /** Multi-batch replay of the self-maintaining NEAR-dup corpus sink
    * ([[graft.streaming.NearDupSink.ingestBatchCommitted]]): batch 0 is a
    * two-level planted corpus over a document subset (each original with
    * its drop-8 mutation — exercising within-batch keep-one), batch 1 is
    * the drop-16 mutations (near-dup to batch 0's surviving originals —
    * exercising the cross-batch signature probe). The fold's final
    * corpus ids hash-check against a DuckDB replay of the same
    * SEQUENTIAL semantics: per-batch LSH+components keep-one, then a
    * banded signature probe of batch 1's keepers against batch 0's
    * survivors at the same MinHash-estimate threshold. The plant is
    * FIXED-SIZE (doc_id < 100, the same at every sf — like the other
    * replay fixtures): the query certifies the fold's STRUCTURE, and a
    * sink fold's cost is per-batch by design; `dedup_near_keep` and the
    * probe replays already time the sf-scaled LSH paths.
    */
  def nearDupCorpusReplay(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/neardup_corpus")
    // one scan of the planted subset, shared by b0's two legs and b1
    // (see trainIngestPlant); released per bench pass
    val docs = graft.core.Caches.track(
      t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
        .coalesce(8) // fixed-size plant; see trainIngestPlant
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val b0 = docs.select(col("doc_id").cast("long").as("id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 100000).cast("long").as("id"),
        expr("substring(text, 1, greatest(length(text) - 8, 0))").as("text")))
    val b1 = docs.select((col("doc_id") + 200000).cast("long").as("id"),
      expr("substring(text, 1, length(text) - 16)").as("text"))
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    graft.streaming.NearDupSink.ingestBatchCommitted(b0, corpus, index, "b0")
    graft.streaming.NearDupSink.ingestBatchCommitted(b1, corpus, index, "b1")
    docs.unpersist()
    graft.ext.ManifestTable.read(s, corpus).select("id").orderBy("id")
  }

  /** Incremental corpus-statistics fold ([[graft.streaming.StatsSink]]):
    * documents split into 3 deterministic micro-batches (doc_id % 3),
    * each committing its per-language partial-aggregate segment; the
    * result is the merge-on-read total. The oracle is a SINGLE-PASS
    * DuckDB aggregate over the whole table — hash-equality certifies
    * that the per-batch partials fold to exactly the one-shot answer
    * (associativity of the maintained statistics), which is the property
    * that lets a 100 TB corpus answer stats queries from kilobytes of
    * segments. Unlike the sink-replay fixtures this uses the FULL
    * sf-scaled table: the per-batch aggregate is the sink's real cost
    * and should scale in the bench.
    */
  def corpusStatsReplay(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/stats_sink")
    val docs = t(s, d, "documents")
    (0L until 3L).foreach { i =>
      graft.streaming.StatsSink.appendCommitted(
        docs.filter(col("doc_id") % 3 === i), root, s"b$i")
    }
    graft.streaming.StatsSink.readCommitted(s, root).orderBy("lang")
  }

  /** Cell-pruned ANN search over the MANIFEST-COMMITTED
    * [[graft.ext.VectorStore]]: the store builds in TWO atomic appends
    * (cells frozen by the first — later appends must assign
    * consistently; batch ids make a replay a no-op), the query vector's
    * 2 nearest cells are probed, and only the files whose commit-time
    * stats admit those cells are scanned (VectorStoreSpec pins
    * `pruneInfo` and the executed scan's file count). The oracle assigns
    * every vector to the same seeded
    * centroids and takes the same (cos DESC, id) top-10 inside the
    * probed cells — layout changes nothing about search semantics.
    */
  def vectorStoreSearch(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/vector_store")
    val e = t(s, d, "embeddings")
    // manifest-committed store (VERDICT r10 #5): appends are atomic
    // idempotent commits and the probe prunes files from manifest stats
    graft.ext.VectorStore.appendCommitted(
      e.filter(col("vec_id") < 1000), root, "b0")
    graft.ext.VectorStore.appendCommitted(
      e.filter(col("vec_id") >= 1000), root, "b1")
    val q = e.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()(0).getSeq[Double](0)
    graft.ext.VectorStore.search(s, root, q, nprobe = 2, topK = 10,
        excludeId = Some(0L))
      .select(col("vec_id").cast("long").as("vec_id"), col("cos6"))
      .orderBy(col("cos6").desc, col("vec_id"))
  }

  /** IVF RETRAIN after distribution drift, oracle-replayed (VERDICT r13
    * order #8 — the store was append-only against frozen centroids): the
    * store takes the embeddings corpus, then a DRIFTED copy (every
    * vector shifted +2.0 per dim, ids offset) that the frozen centroids
    * funnel into whichever old cells sit nearest — the REQUIREs pin the
    * drift signal (mean squared quantization error spikes vs the fresh
    * store) and the repair (retrain strictly lowers it — k-means
    * minimizes exactly that objective — and recall@10 of a drifted
    * query against the exact top-10 does not regress, the order's
    * acceptance bar). The retrained search replays in DuckDB end to
    * end: the same unrolled Lloyd rounds over the drifted corpus
    * (seed = 16 lowest ids, 4-decimal means), the same (dist², cid)
    * probe ranking, the same exact-cosine top-10 — so a hash match
    * certifies the entire retrain → reassign → search pipeline.
    */
  def vectorStoreRetrainQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/vector_store_retrain")
    // both halves as array<double>: appends type-check against the
    // manifest schema, and the oracle's corpus casts identically
    val emb = t(s, d, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val drifted = emb
      .withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(2.0)))
    require(graft.ext.VectorStore.appendCommitted(emb, root, "b0"),
      "base append did not commit")
    val fresh = graft.ext.VectorStore.driftStats(s, root)
    require(graft.ext.VectorStore.appendCommitted(drifted, root, "b1"),
      "drifted append did not commit")
    val before = graft.ext.VectorStore.driftStats(s, root)
    require(before.meanSqDist > fresh.meanSqDist * 1.5,
      s"fixture degenerate: drift did not move the quantization error " +
        s"(${fresh.meanSqDist} -> ${before.meanSqDist})")
    // the drifted query: original vector 0, shifted like its cohort
    val q = emb.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double") + lit(2.0))
        .as("v")).collect()(0).getSeq[Double](0)
    // exact top-10 (brute force over the store) = the recall yardstick
    def top10(df: DataFrame): Seq[Long] =
      df.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSeq
    val qCol = array(q.map(lit): _*)
    val exact = top10(graft.ext.ManifestTable.read(s, root)
      .filter(col("vec_id") =!= 100000L)
      .withColumn("cos", graft.ext.Similarity.cosine(col("embedding"), qCol))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)).toSet
    def recall(hits: Seq[Long]): Double =
      hits.count(exact).toDouble / exact.size
    val recallFrozen = recall(top10(graft.ext.VectorStore.search(s, root, q,
      nprobe = 2, topK = 10, excludeId = Some(100000L))))
    // RETRAIN: same Lloyd training, re-assign, one atomic data commit
    require(graft.ext.VectorStore.retrain(s, root, "rt0"),
      "retrain did not commit")
    require(!graft.ext.VectorStore.retrain(s, root, "rt0"),
      "replayed retrain opId was not absorbed")
    val after = graft.ext.VectorStore.driftStats(s, root)
    require(after.meanSqDist < before.meanSqDist,
      s"retrain did not lower the k-means objective " +
        s"(${before.meanSqDist} -> ${after.meanSqDist})")
    val result = graft.ext.VectorStore.search(s, root, q,
      nprobe = 2, topK = 10, excludeId = Some(100000L))
    require(recall(top10(result)) >= recallFrozen,
      s"retrained recall ${recall(top10(result))} regressed below " +
        s"frozen-centroid recall $recallFrozen")
    result.select(col("vec_id").cast("long").as("vec_id"), col("cos6"))
      .orderBy(col("cos6").desc, col("vec_id"))
  }

  /** The seeded plant the three train-ingest fixtures fold: the
    * PII-planted documents with doc_id < 200, split into 2 batches by
    * parity, plus exact copies of every doc_id % 7 = 0 document and
    * drop-8 near-mutations of every doc_id % 9 = 0 document, each
    * landing one batch later. `withLang` carries the source document's
    * `lang` through every leg (a planted copy keeps its source's
    * language). Columns: doc_id, text, [lang,] b.
    *
    * Persisted ONCE (guide §2.4/§5: the three planted union legs each
    * re-scan documents.parquet, and without this every per-batch slice
    * re-executed the whole union — the single largest cost of the pass
    * in the r22 job profile); released per bench pass. The coalesce:
    * the plant is FIXED-SIZE (doc_id bound), so a handful of cached
    * partitions is the right task-count floor — without it the cache
    * inherits the 3 legs x spread(32) = 96 partitions and every
    * per-batch slice scan pays 96 tasks for ~200 rows.
    */
  private def trainIngestPlant(s: SparkSession, d: String,
                               withLang: Boolean): DataFrame = {
    val pii = plantedPiiDocs(s, d).filter(col("doc_id") < 200)
    val planted =
      if (withLang) pii.join(t(s, d, "documents").select("doc_id", "lang"), "doc_id")
      else pii
    def leg(rows: DataFrame, idOffset: Long, text: Column, batch: Column) =
      rows.select(Seq((col("doc_id") + idOffset).cast("long").as("doc_id"),
          text.as("text")) ++ (if (withLang) Seq(col("lang")) else Nil) :+
        batch.cast("long").as("b"): _*)
    graft.core.Caches.track(
      leg(planted, 0L, col("text"), col("doc_id") % 2)
        .unionByName(leg(planted.filter(col("doc_id") % 7 === 0), 1000000L,
          col("text"), (col("doc_id") + 1) % 2))
        .unionByName(leg(planted.filter(col("doc_id") % 9 === 0), 2000000L,
          expr("substring(text, 1, greatest(length(text) - 8, 0))"),
          (col("doc_id") + 1) % 2))
        .coalesce(8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
  }

  /** Folds [[trainIngestPlant]] through
    * [[graft.streaming.Ingest.ingestBatchFullCommitted]] into a fresh
    * corpus + both indexes under `root`, batch i under id "b<i>";
    * `withStats` threads a committed stats store (`root/stats`) through
    * the chain, `replayLast` crash-replays the last batch under its
    * original id. Returns the corpus dir.
    */
  private def trainIngestFold(s: SparkSession, d: String, root: String,
                              withStats: Boolean = false,
                              replayLast: Boolean = false): String = {
    freshRoot(s, root)
    val seeded = trainIngestPlant(s, d, withLang = withStats)
    val cols = if (withStats) Seq("doc_id", "text", "lang") else Seq("doc_id", "text")
    val corpus = s"$root/corpus"
    def fold(i: Long): Unit = graft.streaming.Ingest.ingestBatchFullCommitted(
      seeded.filter(col("b") === i).select(cols.map(col): _*),
      corpus, s"$root/exact_index", s"$root/near_index", s"b$i",
      idCol = "doc_id", statsDir = if (withStats) Some(s"$root/stats") else None)
    (0L until 2L).foreach(fold)
    if (replayLast) fold(1L)
    seeded.unpersist()
    corpus
  }

  /** The COMPLETE training-data ingest fold
    * ([[graft.streaming.Ingest.ingestBatchFullCommitted]]): exact dedup →
    * quality filter → PII scrub → near-dup dedup, both indexes
    * self-maintaining, folded over the 2 batches of
    * [[trainIngestPlant]]. The plant layers every stage: exact copies
    * land one batch later (killed by the exact index), drop-8
    * near-mutations land one batch later (killed by the signature probe
    * on SCRUBBED text), quality failures drop per-batch, PII scrubs
    * everywhere. The DuckDB replay collapses the exact stage to a window
    * rank (first arrival by batch), audits and scrubs the winners, then
    * runs the per-batch near-dup keep + probe chains — the same
    * sequential semantics, stage for stage.
    */
  def trainIngestReplay(s: SparkSession, d: String): DataFrame = {
    val corpus = trainIngestFold(s, d, "/tmp/graft_fix/train_ingest")
    graft.ext.ManifestTable.read(s, corpus)
      .select("doc_id", "text").orderBy("doc_id")
  }

  /** [[trainIngestReplay]] with the LAST batch crash-replayed under its
    * original id: the corpus manifest absorbs the replay on its batch id
    * and the final table equals the single-run chain exactly, which is
    * the property the commit discipline exists to guarantee. The oracle
    * is the SAME sequential DuckDB replay as `train_ingest_replay` (a
    * no-op replay contributes nothing), so hash-equality certifies that
    * the replay changed NOTHING about the data.
    */
  def trainIngestCommittedReplay(s: SparkSession, d: String): DataFrame = {
    val corpus = trainIngestFold(s, d, "/tmp/graft_fix/train_ingest_committed",
      replayLast = true)
    graft.ext.ManifestTable.read(s, corpus)
      .select("doc_id", "text").orderBy("doc_id")
  }

  /** [[trainIngestReplay]] with `statsDir` wired through (VERDICT r9 #6):
    * the full chain maintains committed [[graft.streaming.StatsSink]]
    * segments over its FINAL survivors — the rows that land in the
    * corpus — so this emits the merged per-language totals and the
    * oracle recomputes them from its own sequential replay of the chain.
    * Hash-equality certifies both that the stats hook observes exactly
    * the corpus content and that the per-batch partials fold to the
    * one-shot answer.
    */
  def trainIngestStatsReplay(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/train_ingest_stats"
    trainIngestFold(s, d, root, withStats = true)
    graft.streaming.StatsSink.readCommitted(s, s"$root/stats").orderBy("lang")
  }

  /** The cosine-family fold: 2 batches through
    * [[graft.streaming.NearDupSink.ingestBatchEmbedCommitted]] — batch 0 is an
    * embeddings subset, batch 1 is +0.01 perturbations of half (cosine
    * ≈ 0.998 to their sources — dropped by the cross-batch probe) plus
    * NEGATED copies of the other half (cosine −1, complementary buckets
    * in every hyperplane table — kept). The DuckDB replay runs the same
    * per-batch keep-one (bucket-join candidates, exact cosine,
    * components) and the same bucket-join probe between the batches.
    * Fixed-size plant (vec_id < 128) for the same reason as
    * [[nearDupCorpusReplay]].
    */
  def nearDupEmbedCorpusReplay(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/neardup_embed")
    // one scan of the planted subset, shared by b0/pert/neg (see
    // trainIngestPlant); released per bench pass
    val e = graft.core.Caches.track(
      t(s, d, "embeddings").filter(col("vec_id") < 128)
        .select(col("vec_id"), col("embedding"))
        .coalesce(8) // fixed-size plant; see trainIngestPlant
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val b0 = e.select(col("vec_id").cast("long").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val pert = e.filter(col("vec_id") % 2 === 0).select(
      (col("vec_id") + 100000).cast("long").as("id"),
      zip_with(col("embedding"), sequence(lit(0L), lit(63L)),
        (x, j) => x.cast("double") + lit(0.01) * ((j % 3) - 1).cast("double")).as("v"))
    val neg = e.filter(col("vec_id") % 2 === 1).select(
      (col("vec_id") + 200000).cast("long").as("id"),
      transform(col("embedding"), x => x.cast("double") * lit(-1.0)).as("v"))
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    graft.streaming.NearDupSink.ingestBatchEmbedCommitted(b0, corpus, index, "b0")
    graft.streaming.NearDupSink.ingestBatchEmbedCommitted(
      pert.unionByName(neg), corpus, index, "b1")
    e.unpersist()
    graft.ext.ManifestTable.read(s, corpus).select("id").orderBy("id")
  }

  /** Repetition signals over planted-repetition documents: every even
    * doc gets its text duplicated as a second line (dup_line_frac 0.5),
    * every doc_id % 3 == 0 additionally repeats its text inline (driving
    * top-bigram coverage up); odd docs get a unique tail line (frac 0).
    */
  def repetitionSignals(s: SparkSession, d: String): DataFrame = {
    val planted = t(s, d, "documents").select(col("doc_id"),
      concat(col("text"), lit("\n"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(lit("tail "), col("doc_id"))),
        when(col("doc_id") % 3 === 0, concat(lit(" "), col("text")))
          .otherwise(lit(""))).as("text"))
    val lineFrac = planted.select(col("doc_id"),
      TextAnalysis.dupLineFraction(col("text")).as("dup_line_frac"))
    lineFrac
      .join(TextAnalysis.topNgramCoverage(planted, "doc_id", "text"), "doc_id")
      .orderBy("doc_id")
  }

  /** AS-OF join: every event enriched with the user's most recent
    * purchase value at or before the event's timestamp (exact-nanos
    * ordering via ts_ns). The right side pre-aggregates to one row per
    * (user, ts) — the [[graft.ext.AsOf]] uniqueness precondition — and
    * the oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so the union+window
    * encoding is checked against an independent first-class
    * implementation of the operator, not a replay of itself.
    */
  def asofJoinQ(s: SparkSession, d: String): DataFrame = {
    // microsecond epochs on BOTH sides: DuckDB truncates TIMESTAMP_NS
    // parquet to micros on read, so nanos-side ordering would compare
    // against values the oracle can never see
    val ev = t(s, d, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
    val left = ev.select(col("event_id"), col("user_id"), col("ts_us"))
    val right = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts_us").agg(max("value").as("pval"))
    graft.ext.AsOf.join(left, right, Seq("user_id"), "ts_us", "ts_us")
      .orderBy("event_id")
  }

  /** Range (interval-containment) join: every purchase by a sampled user
    * opens a 30-minute window; each window is enriched with the count of
    * the user's events inside it. [[graft.ext.RangeJoin]] reduces the
    * range predicate to a bucketized equi-join (10-minute buckets — each
    * window explodes to ≤4 bucket rows); the oracle is DuckDB's native
    * BETWEEN join, so the reduction is checked against a first-class
    * range-join implementation, not a replay of itself.
    */
  def rangeJoinQ(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").withColumn("ts_us", unix_micros(col("ts")))
    val events = ev.select(col("event_id"), col("user_id"), col("ts_us"))
    val intervals = ev
      .filter(col("event_type") === "purchase" && col("user_id") % 5 === 0)
      .select(col("event_id").as("interval_id"), col("user_id"),
        col("ts_us").as("s_us"),
        (col("ts_us") + lit(1800000000L)).as("e_us"))
    graft.ext.RangeJoin.join(events, intervals, "ts_us", "s_us", "e_us",
        keys = Seq("user_id"), granularity = 600000000L)
      .groupBy("interval_id").agg(count(lit(1)).as("n_events"))
      .orderBy("interval_id")
  }

  /** The manifest-committed table under a realistic fold: three
    * document batches append (each a manifest commit), batch 1 REPLAYS
    * after a simulated crash (absorbed id → no-op), and a compaction
    * runs mid-fold (atomic swap, batch-id history preserved). The final
    * read must equal the plain one-shot table — the oracle certifies
    * that effectively-once commits + atomic compaction reconstruct
    * exactly the input, which the plain-directory sinks can only
    * promise up to their documented windows.
    */
  def manifestCorpusReplay(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_corpus")
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    def b(i: Long) = docs.filter(col("doc_id") % 3 === i)
    graft.ext.ManifestTable.append(b(0), root, "b0")
    graft.ext.ManifestTable.append(b(1), root, "b1")
    graft.ext.ManifestTable.compact(s, root)
    graft.ext.ManifestTable.append(b(1), root, "b1") // crash replay: no-op
    graft.ext.ManifestTable.append(b(2), root, "b2")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** DATA SKIPPING through the manifest's footer stats, end to end: the
    * documents table lands in a manifest-committed table, a clustered
    * compaction range-partitions it on doc_id so each file covers a
    * near-disjoint min/max range, and [[graft.ext.ManifestTable.readWhere]]
    * answers a selective predicate from the pruned file list. The query
    * REQUIREs that pruning actually skipped files (whenever the table
    * has more than one), so a regression to scan-everything fails this
    * row loudly instead of passing slowly; the oracle certifies the
    * pruned read returns exactly the full-scan answer. At 100 TB this
    * path is the difference between opening 3 files and 30 000.
    */
  def manifestSkippingQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_skip")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    // 4 KB target: even the narrow 3-column projection at sf0.01 splits
    // into several doc_id-clustered files, so the pruneInfo REQUIRE and
    // the PLANS.md audit observe real stats skipping at every sf
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    val pred = "doc_id >= 100 AND doc_id < 220 AND lang <> 'de'"
    val (kept, total) = graft.ext.ManifestTable.pruneInfo(s, root, pred)
    require(total == 1 || kept < total,
      s"manifest data skipping skipped nothing: kept $kept of $total files")
    graft.ext.ManifestTable.readWhere(s, root, pred).orderBy("doc_id")
  }

  /** BLOOM-SIDECAR skipping — the point lookup min/max stats cannot
    * answer: three interleaved appends (each file's [doc_id min, max]
    * spans the whole key space, so stats pruning keeps everything) with
    * per-file bloom filters on doc_id; a 3-key IN probe must then be
    * served from the handful of files whose blooms admit a key. The
    * REQUIRE pins that blooms pruned below the stats-only file count;
    * the oracle certifies the pruned read is exact. This is the
    * manifest-table answer to needle-in-100-TB id lookups on unsorted
    * ingest order.
    */
  def manifestBloomSkippingQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_bloom")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 until 3).foreach { i =>
      graft.ext.ManifestTable.append(
        docs.filter(col("doc_id") % 3 === i).coalesce(4), root, s"b$i",
        bloomCols = Seq("doc_id"))
    }
    val pred = "doc_id IN (42, 217, 401)"
    val (kept, total) = graft.ext.ManifestTable.pruneInfo(s, root, pred)
    require(kept < total,
      s"bloom skipping pruned nothing: kept $kept of $total files")
    graft.ext.ManifestTable.readWhere(s, root, pred).orderBy("doc_id")
  }

  /** TIME TRAVEL through the manifest, oracle-replayed (VERDICT r10 #6):
    * the documents table lands in three committed batches with a
    * compaction and a graceful vacuum in between, then the query reads
    * the table AS OF version 2 — the snapshot holding exactly batches
    * b0 and b1, pinned by the manifest history even though a later
    * compaction orphaned those very files (the vacuum grace window keeps
    * them on disk for pinned readers). The oracle recomputes the same
    * two-batch subset from the source table, so a hash match certifies
    * the historical read is the exact historical table — not the current
    * one, not a mix.
    */
  def manifestTimeTravelQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_travel")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def b(i: Long) = docs.filter(col("doc_id") % 3 === i)
    graft.ext.ManifestTable.append(b(0), root, "b0") // v1
    graft.ext.ManifestTable.append(b(1), root, "b1") // v2
    graft.ext.ManifestTable.compact(s, root)         // v3: v2's files orphaned
    graft.ext.ManifestTable.append(b(2), root, "b2") // v4
    // graceful vacuum must leave the historical files for pinned readers
    require(graft.ext.ManifestTable.vacuum(s, root) == 0,
      "graceful vacuum swept files inside the grace window")
    graft.ext.ManifestTable.readVersion(s, root, 2L).orderBy("doc_id")
  }

  /** The PLANNER-INTEGRATED scan, oracle-replayed: same fixture and band
    * as [[manifestSkippingQ]], but the predicate reaches the engine as a
    * plain `.where` on `ManifestTable.scan` — Catalyst pushes it into
    * the [[graft.ext.ManifestFileIndex]] at planning time, where the
    * identical stats evaluator shrinks the file list. The REQUIRE reads
    * the executed scan's numFiles METRIC (the ground truth of what was
    * opened), pinning that composition-path pruning works — not just
    * the explicit-predicate readWhere API. The oracle certifies the
    * pruned plan returns exactly the full-scan answer.
    */
  def manifestScanPrunedQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_scan")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    val total = graft.ext.ManifestTable.snapshot(s, root).files.size
    val df = graft.ext.ManifestTable.scan(s, root)
      .where("doc_id >= 100 AND doc_id < 220 AND lang <> 'de'")
    val read = filesRead(df).sum
    require(total == 1 || read < total,
      s"planner-path skipping read $read of $total files — pruned nothing")
    df.orderBy("doc_id")
  }

  /** PARTITIONED manifest table, oracle-replayed: the table declares
    * `partitionBy = lang` at creation (the second append INHERITS the
    * layout), so every data file holds exactly one lang and carries its
    * value in the manifest. The REQUIREs pin the partition contract at
    * the file level: every file has a recorded tuple, `pruneInfo` on a
    * partition predicate keeps EXACTLY the matching partition's files
    * (exact, not interval pruning), the planner-integrated scan reads
    * exactly those files (FileSourceScanExec numFiles), and
    * `partitions()` enumerates the layout with stats-known row counts.
    * The oracle replays the partition filter in DuckDB.
    */
  def manifestPartitionPrunedQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_partition")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs.filter(col("doc_id") % 2 === 0),
      root, "even", partitionBy = Seq("lang"))
    graft.ext.ManifestTable.append(docs.filter(col("doc_id") % 2 === 1),
      root, "odd") // inherits the declared layout
    val snap = graft.ext.ManifestTable.snapshot(s, root)
    require(snap.partitionCols == Seq("lang"), "layout not recorded")
    require(snap.files.forall(f =>
      snap.pvals.get(f).exists(_.contains("lang"))),
      "a data file is missing its recorded partition tuple")
    val deFiles = snap.files.count(f =>
      snap.pvals(f)("lang").value.contains("de"))
    val total = snap.files.size
    require(deFiles > 0 && deFiles < total,
      s"fixture degenerate: $deFiles de files of $total")
    val (kept, tot) = graft.ext.ManifestTable.pruneInfo(s, root, "lang = 'de'")
    require(kept == deFiles && tot == total,
      s"partition pruning kept $kept of $tot; expected exactly $deFiles")
    val nParts = graft.ext.ManifestTable.partitions(s, root).count()
    require(nParts > 1, s"partitions() listed $nParts tuples")
    val df = graft.ext.ManifestTable.scan(s, root).where("lang = 'de'")
    val read = filesRead(df).sum
    require(read == deFiles,
      s"planner scan read $read files; partition pruning promised $deFiles")
    df.orderBy("doc_id")
  }

  /** The SQL DDL/DML face, oracle-replayed END TO END (VERDICT r13
    * order #1): a `GraftCatalog` over a scratch warehouse, then pure
    * `spark.sql` — CREATE TABLE (partitioned), INSERT INTO, a
    * partition DELETE, a re-INSERT of the derived replacement — and a
    * pure-SQL read back. The REQUIREs pin that the SQL read planned
    * through [[graft.ext.ManifestFileIndex]] (a FileSourceScanExec
    * exists) and that a partition-predicate SELECT read EXACTLY the
    * partition's files (numFiles metric) — SQL callers get the same
    * pruned plan Scala callers do, not a compatibility bridge.
    */
  def manifestSqlDdlQ(s: SparkSession, d: String): DataFrame = {
    create(s, d, "sqlddl", s"$DocSchema PARTITIONED BY (lang)")
    s.sql("INSERT INTO graft_fix.sqlddl " +
      "SELECT doc_id, lang, n_chars FROM sqlddl_src")
    // partition-pruned SQL read: exactly the partition's files
    val snap = snapshot(s, "sqlddl")
    val deFiles = snap.files.count(f =>
      snap.pvals(f)("lang").value.contains("de"))
    require(deFiles > 0 && deFiles < snap.files.size,
      s"fixture degenerate: $deFiles de files of ${snap.files.size}")
    val read =
      filesRead(s.sql("SELECT * FROM graft_fix.sqlddl WHERE lang = 'de'"))
    require(read.nonEmpty,
      "SQL read did not plan through ManifestFileIndex/FileSourceScanExec")
    require(read.sum == deFiles,
      s"SQL partition read touched ${read.sum} files; pruning promised $deFiles")
    // DML: drop the partition (pure metadata), re-insert it re-derived
    s.sql("DELETE FROM graft_fix.sqlddl WHERE lang = 'de'")
    s.sql("INSERT INTO graft_fix.sqlddl SELECT doc_id, lang, " +
      "CAST(n_chars + 2000 AS BIGINT) FROM sqlddl_src WHERE lang = 'de'")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlddl ORDER BY doc_id")
  }

  /** SQL `UPDATE`, oracle-replayed: pure `spark.sql` UPDATE over a
    * partitioned catalog table lowers (via [[graft.plans.GraftDmlRule]])
    * to [[graft.ext.ManifestTable.updateWhere]] — the same file-pruned
    * copy-on-write commit the Scala caller gets, SET expressions
    * evaluated against the OLD row and cast back to the column type.
    * The REQUIREs pin that the candidate pruning PROVED the non-matching
    * partition untouchable before the statement ran (kept < total) and
    * that the commit landed as an `update` op.
    */
  def manifestSqlUpdateQ(s: SparkSession, d: String): DataFrame = {
    create(s, d, "sqlupd", s"$DocSchema PARTITIONED BY (lang)")
    s.sql("INSERT INTO graft_fix.sqlupd " +
      "SELECT doc_id, lang, n_chars FROM sqlupd_src")
    // the partition predicate must PRUNE before the update rewrites
    val (kept, total) =
      graft.ext.ManifestTable.pruneInfo(s, s"$wh/sqlupd", "lang = 'de'")
    require(kept > 0 && kept < total,
      s"fixture degenerate: update candidates $kept of $total files")
    s.sql("UPDATE graft_fix.sqlupd " +
      "SET n_chars = n_chars * 2 + 7 WHERE lang = 'de' AND doc_id % 3 = 0")
    landed(s, "sqlupd", "update", "SQL UPDATE")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlupd ORDER BY doc_id")
  }

  /** SQL `MERGE INTO` (the upsert shape), oracle-replayed: pure
    * `spark.sql` MERGE lowers (via [[graft.plans.GraftDmlRule]]) to
    * [[graft.ext.ManifestTable.merge]] — source-key candidate pruning,
    * full-row replace of matched keys, insert of absent ones, one
    * atomic commit. The REQUIREs pin that the merge REWROTE a strict
    * subset of the table's files (source-key pruning held: an upsert
    * batch is O(matched files), never O(table)) and landed as a
    * `merge` op.
    */
  def manifestSqlMergeQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlmrg")
    s.sql("""MERGE INTO graft_fix.sqlmrg AS tgt
            |USING (SELECT doc_id, lang,
            |         CAST(n_chars + 5000 AS BIGINT) AS n_chars
            |       FROM sqlmrg_src
            |       WHERE doc_id >= 120 AND doc_id < 520) AS src
            |ON tgt.doc_id = src.doc_id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    rewrote(before, landed(s, "sqlmrg", "merge", "SQL MERGE"),
      before.files.size, "SQL MERGE")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmrg ORDER BY doc_id")
  }

  /** SQL `MERGE ... WHEN MATCHED THEN DELETE` (the tombstone-apply
    * shape), oracle-replayed: lowers (via [[graft.plans.GraftDmlRule]])
    * to [[graft.ext.ManifestTable.deleteMatching]] — delete-by-source-
    * keys over the source-key-pruned candidates. The REQUIREs pin the
    * strict-subset rewrite (a tombstone batch is O(matched files)) and
    * the `delete` op provenance.
    */
  def manifestSqlMergeDeleteQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlmdel")
    s.sql("""MERGE INTO graft_fix.sqlmdel AS tgt
            |USING (SELECT doc_id FROM sqlmdel_src
            |       WHERE doc_id >= 150 AND doc_id < 250) AS src
            |ON tgt.doc_id = src.doc_id
            |WHEN MATCHED THEN DELETE""".stripMargin)
    rewrote(before, landed(s, "sqlmdel", "delete", "SQL MERGE-DELETE"),
      before.files.size, "tombstone apply")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmdel " +
      "ORDER BY doc_id")
  }

  /** GENERAL SQL MERGE — partial-column conditional SET + partial
    * INSERT — oracle-replayed: lowers (via [[graft.plans.GraftDmlRule]])
    * to [[graft.ext.ManifestTable.mergeGeneral]]. Two conditional
    * matched clauses exercise SQL clause order (first match wins) with
    * SET expressions over BOTH rows (`t.n_chars + s.bump`) touching only
    * one column; a conditional explicit-column INSERT exercises the
    * partial-insert null-avoidance (every column assigned here, values
    * computed). The REQUIREs pin that source-key pruning still held for
    * the general path (strict-subset rewrite: the [0,100) band file is
    * untouched) and the `merge` op provenance.
    */
  def manifestSqlMergePartialQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlmgp")
    s.sql("""MERGE INTO graft_fix.sqlmgp AS t
            |USING (SELECT doc_id, lang, n_chars,
            |         CAST(doc_id * 3 AS BIGINT) AS bump
            |       FROM sqlmgp_src
            |       WHERE doc_id >= 120 AND doc_id < 520) AS s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED AND t.doc_id % 2 = 0
            |  THEN UPDATE SET n_chars = t.n_chars + s.bump
            |WHEN MATCHED THEN UPDATE SET n_chars = -t.n_chars
            |WHEN NOT MATCHED AND s.doc_id < 480
            |  THEN INSERT (doc_id, lang, n_chars)
            |       VALUES (s.doc_id, s.lang, s.n_chars + 9)""".stripMargin)
    rewrote(before, landed(s, "sqlmgp", "merge", "general SQL MERGE"),
      before.files.size, "general merge")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmgp ORDER BY doc_id")
  }

  /** GENERAL SQL MERGE — conditional DELETE, mixed clauses and NOT
    * MATCHED BY SOURCE — oracle-replayed: the sync-to-source shape.
    * Matched rows are conditionally deleted (`doc_id % 5 = 0`) or
    * updated; rows the source does NOT name are updated or deleted by
    * NMBS clauses — which quantify over the whole target, so the
    * rewrite scope is the full file list by necessity (the documented
    * NMBS cost; no subset require here). The REQUIREs pin the clause
    * effects with scale-invariant counts (both NMBS bands bounded) and
    * the `merge` provenance.
    */
  def manifestSqlMergeCondQ(s: SparkSession, d: String): DataFrame = {
    banded(s, d, "sqlmgc")
    s.sql("""MERGE INTO graft_fix.sqlmgc AS t
            |USING (SELECT doc_id, n_chars FROM sqlmgc_src
            |       WHERE doc_id >= 100 AND doc_id < 300) AS s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED AND t.doc_id % 5 = 0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1
            |WHEN NOT MATCHED BY SOURCE AND t.doc_id < 50
            |  THEN UPDATE SET n_chars = CAST(0 AS BIGINT)
            |WHEN NOT MATCHED BY SOURCE AND t.doc_id >= 390
            |  THEN DELETE""".stripMargin)
    landed(s, "sqlmgc", "merge", "general SQL MERGE")
    val zeroed = s.sql(
      "SELECT count(*) FROM graft_fix.sqlmgc WHERE n_chars = 0")
      .first().getLong(0)
    require(zeroed == 50L,
      s"NMBS update touched $zeroed rows, expected the bounded 50")
    val tombBand = s.sql("SELECT count(*) FROM graft_fix.sqlmgc " +
      "WHERE doc_id >= 390 OR (doc_id >= 100 AND doc_id < 300 AND " +
      "doc_id % 5 = 0)").first().getLong(0)
    require(tombBand == 0L,
      s"conditional/NMBS deletes left $tombBand rows standing")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmgc ORDER BY doc_id")
  }

  /** GENERAL SQL MERGE with a rich ON condition, oracle-replayed:
    * differently-named key equality (`t.doc_id = s.src_id`) plus a
    * NON-EQUI residue conjunct (`s.sn > t.n_chars` — the SCD guard
    * idiom). The source's `sn` sits ±100 around the target's value by
    * `doc_id % 3`, so the residue decides MATCHED per row: thirds
    * update, the rest stay NOT MATCHED (their insert is filtered by
    * the clause condition), and the 400-450 band inserts. The REQUIREs
    * pin that the key equalities ALONE still drive file pruning — a
    * strict-subset rewrite (the sub-150 band's file must survive) —
    * and the `merge` provenance.
    */
  def manifestSqlMergeOnExprQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlmox")
    s.sql("""MERGE INTO graft_fix.sqlmox AS t
            |USING (SELECT doc_id AS src_id, lang AS slang,
            |         CAST(n_chars + CASE WHEN doc_id % 3 = 0
            |              THEN 100 ELSE -100 END AS BIGINT) AS sn
            |       FROM sqlmox_src
            |       WHERE doc_id >= 150 AND doc_id < 450) AS s
            |ON t.doc_id = s.src_id AND s.sn > t.n_chars
            |WHEN MATCHED THEN UPDATE SET n_chars = s.sn
            |WHEN NOT MATCHED AND s.src_id >= 400
            |  THEN INSERT (doc_id, lang, n_chars)
            |       VALUES (s.src_id, s.slang, s.sn)""".stripMargin)
    rewrote(before, landed(s, "sqlmox", "merge", "rich-ON SQL MERGE"),
      before.files.size, "rich-ON merge")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmox ORDER BY doc_id")
  }

  /** MERGE WITH SCHEMA EVOLUTION, oracle-replayed: the target starts
    * WITHOUT `n_chars`; the source carries it, so the analyzer's
    * ResolveMergeIntoSchemaEvolution (the table declares
    * AUTOMATIC_SCHEMA_EVOLUTION) commits the nullable ADD through the
    * catalog before the merge lowers — old unmatched rows null-fill,
    * matched rows update through SET *, the 400-500 band inserts.
    * DuckDB replays the same ALTER+UPDATE+INSERT as one frame. The
    * REQUIREs pin the evolved schema, the strict-subset rewrite (the
    * sub-200 bands survive) and the `merge` provenance.
    */
  def manifestSqlMergeEvolveQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlmev", "(doc_id BIGINT, lang STRING)",
      rows = "SELECT doc_id, lang")
    s.sql("""MERGE WITH SCHEMA EVOLUTION
            |INTO graft_fix.sqlmev AS t
            |USING (SELECT doc_id, lang, n_chars FROM sqlmev_src
            |       WHERE doc_id >= 200 AND doc_id < 500) AS s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(s.table("graft_fix.sqlmev").columns.toSeq ==
      Seq("doc_id", "lang", "n_chars"),
      "schema evolution did not add the source-new column")
    rewrote(before, landed(s, "sqlmev", "merge", "evolving SQL MERGE"),
      before.files.size, "evolving merge")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmev ORDER BY doc_id")
  }

  /** DELETE WHERE ... IN (subquery), oracle-replayed: the uncorrelated
    * subquery literalizes at command time to a bounded IN-list, which
    * then drives the SAME stats/bloom candidate pruning a literal
    * IN gets — the REQUIREs pin a strict-subset rewrite (only the
    * 100-200 band's file holds matching keys) and the `delete`
    * provenance. Correlated subqueries stay a loud rejection (pinned
    * in the suite).
    */
  def manifestSqlDeleteInSubqueryQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqldsq")
    s.sql("""DELETE FROM graft_fix.sqldsq
            |WHERE doc_id IN (SELECT doc_id FROM sqldsq_src
            |                 WHERE doc_id >= 120 AND doc_id < 180
            |                   AND doc_id % 2 = 0)""".stripMargin)
    rewrote(before, landed(s, "sqldsq", "delete", "IN-subquery DELETE"),
      before.files.size / 2, "IN-subquery DELETE")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqldsq ORDER BY doc_id")
  }

  /** CORRELATED subqueries in DML predicates, oracle-replayed — the
    * everyday dedup/GC idioms lowered to the engine's source-key-pruned
    * semi/anti row ops (no driver collect, no key-count ceiling):
    * (1) `DELETE WHERE EXISTS (s.k = t.k AND local)` — semi, lowered to
    * `deleteMatching`, the REQUIREs pin a strict-subset rewrite (the
    * matched band's files only) and `delete` provenance; (2) `DELETE
    * WHERE NOT EXISTS` — anti, a NOT-MATCHED-BY-SOURCE delete (full
    * scope, inherent to the quantifier); (3) correlated `UPDATE WHERE
    * EXISTS` — a conditional matched-update merge. DuckDB replays all
    * three as one frame.
    */
  def manifestSqlDeleteExistsQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqldex")
    // (1) SEMI: equality-correlated EXISTS → deleteMatching
    s.sql("""DELETE FROM graft_fix.sqldex t WHERE EXISTS
            |  (SELECT 1 FROM sqldex_src s
            |   WHERE s.doc_id = t.doc_id
            |     AND s.doc_id >= 120 AND s.doc_id < 180
            |     AND s.doc_id % 2 = 0)""".stripMargin)
    rewrote(before,
      landed(s, "sqldex", "delete", "correlated-EXISTS DELETE"),
      before.files.size / 2, "correlated-EXISTS DELETE")
    // (2) ANTI: NOT EXISTS → NOT-MATCHED-BY-SOURCE delete (the >= 350
    // tail has no witness in the bounded source)
    s.sql("""DELETE FROM graft_fix.sqldex t WHERE NOT EXISTS
            |  (SELECT 1 FROM sqldex_src s
            |   WHERE s.doc_id = t.doc_id AND s.doc_id < 350)""".stripMargin)
    landed(s, "sqldex", "merge", "NOT-EXISTS DELETE (an NMBS merge)")
    // (3) correlated UPDATE: matched rows only, SET sees the OLD row
    s.sql("""UPDATE graft_fix.sqldex t SET n_chars = n_chars + 50
            |WHERE EXISTS (SELECT 1 FROM sqldex_src s
            |              WHERE s.doc_id = t.doc_id AND s.doc_id < 50)""".stripMargin)
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqldex ORDER BY doc_id")
  }

  /** MULTI-COLUMN `IN (subquery)` in a DELETE predicate,
    * oracle-replayed: the single-column literalizer is not its ceiling
    * — the tuple IN routes through the same key-joined lowering as the
    * correlated shapes (`deleteMatching` on both columns), with range
    * pruning on the key band.
    */
  def manifestSqlDeleteInMultiQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqldim")
    s.sql("""DELETE FROM graft_fix.sqldim t
            |WHERE (doc_id, lang) IN
            |  (SELECT doc_id, lang FROM sqldim_src
            |   WHERE doc_id >= 150 AND doc_id < 250)""".stripMargin)
    rewrote(before, landed(s, "sqldim", "delete", "tuple-IN DELETE"),
      before.files.size, "tuple-IN DELETE")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqldim ORDER BY doc_id")
  }

  /** `ADD COLUMN ... DEFAULT` via the EXISTS_DEFAULT read-fill,
    * oracle-replayed: the ADD is a pure metadata commit (REQUIREd —
    * zero files move) yet every pre-ADD row reads the frozen literal;
    * an UPDATE then materializes one band (pruned rewrite), SET
    * DEFAULT moves only the INSERT-time default (new band takes 9,
    * history keeps 5 — the two-field divergence), and a post-ADD
    * insert with an explicit NULL stays NULL (the fill is per-file
    * ABSENCE, never a coalesce). DuckDB replays the same timeline as
    * CASE arms over `documents`.
    */
  def manifestSqlAddDefaultQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqladf", "(doc_id BIGINT, lang STRING)",
      rows = "SELECT doc_id, lang")
    s.sql("ALTER TABLE graft_fix.sqladf ADD COLUMN score BIGINT DEFAULT 5")
    require(snapshot(s, "sqladf").files == before.files,
      "ADD COLUMN DEFAULT moved data files — it must be metadata-only")
    // materialize one band: candidate pruning must hold under the fill
    s.sql("UPDATE graft_fix.sqladf SET score = score + 1 " +
      "WHERE doc_id >= 100 AND doc_id < 200")
    rewrote(before, snapshot(s, "sqladf"), before.files.size / 2,
      "UPDATE over the filled column")
    // CURRENT_DEFAULT fills the omitted column on insert (still 5)
    s.sql("INSERT INTO graft_fix.sqladf (doc_id, lang) " +
      "SELECT doc_id, lang FROM sqladf_src " +
      "WHERE doc_id >= 400 AND doc_id < 450")
    // SET DEFAULT 9: future inserts only; the read-fill stays 5
    s.sql("ALTER TABLE graft_fix.sqladf ALTER COLUMN score SET DEFAULT 9")
    s.sql("INSERT INTO graft_fix.sqladf (doc_id, lang) " +
      "SELECT doc_id, lang FROM sqladf_src " +
      "WHERE doc_id >= 450 AND doc_id < 480")
    // an explicit NULL in a post-ADD file stays NULL
    s.sql("INSERT INTO graft_fix.sqladf " +
      "SELECT doc_id, lang, CAST(NULL AS BIGINT) FROM sqladf_src " +
      "WHERE doc_id >= 480 AND doc_id < 500")
    s.sql("SELECT doc_id, lang, score FROM graft_fix.sqladf ORDER BY doc_id")
  }

  /** GENERATED ALWAYS AS columns, oracle-replayed: the expression rides
    * the recorded schema (catalog capability + field metadata), inserts
    * omitting the column COMPUTE it, an UPDATE on a source column
    * RECOMPUTES it (never assignable directly), and a general MERGE
    * recomputes matched updates and computes partial inserts. DuckDB
    * replays the whole timeline as arithmetic over `documents`.
    */
  def manifestSqlGeneratedQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlgen", "(doc_id BIGINT, n_chars BIGINT, " +
      "nc2 BIGINT GENERATED ALWAYS AS (n_chars * 2 + doc_id % 7))",
      "(doc_id, n_chars) SELECT doc_id, n_chars")
    // recompute on UPDATE, with candidate pruning intact
    s.sql("UPDATE graft_fix.sqlgen SET n_chars = n_chars + 10 " +
      "WHERE doc_id >= 100 AND doc_id < 200")
    rewrote(before, snapshot(s, "sqlgen"), before.files.size / 2,
      "generated-column UPDATE")
    // general MERGE: matched partial SET recomputes, partial INSERT
    // computes
    s.sql("""MERGE INTO graft_fix.sqlgen t
            |USING (SELECT doc_id, CAST(n_chars + 5 AS BIGINT) AS x
            |       FROM sqlgen_src
            |       WHERE doc_id >= 350 AND doc_id < 450) s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED THEN UPDATE SET n_chars = s.x
            |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars)
            |  VALUES (s.doc_id, s.x)""".stripMargin)
    s.sql("SELECT doc_id, n_chars, nc2 FROM graft_fix.sqlgen " +
      "ORDER BY doc_id")
  }

  /** GENERATED ALWAYS AS IDENTITY, oracle-replayed on the contract the
    * engine actually makes — UNIQUENESS and per-batch DENSITY, never a
    * particular row↔id assignment (zipDense enumerates the frame's own
    * partitioning): each banded INSERT mints a dense 100-id block, the
    * mark lands at exactly minted-max + 1 (REQUIREd, assignment-free),
    * a DELETE by ID BAND removes 50 known ids without moving the mark,
    * and the next band continues from it. The final frame is id-band
    * AGGREGATES (count/min/max/sum per 50-id band), which the id
    * MULTISET fully determines — DuckDB replays the multiset from
    * doc_id arithmetic.
    */
  def manifestSqlIdentityQ(s: SparkSession, d: String): DataFrame = {
    val mark = banded(s, d, "sqlidn", "(" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1), " +
      "doc_id BIGINT, n_chars BIGINT)",
      "(doc_id, n_chars) SELECT doc_id, n_chars")
      .properties.get("graft.identity.hwm.id")
    require(mark.contains("401"),
      s"identity mark after 400 minted rows should be 401, got $mark")
    // a DELETE (by id band — assignment-independent, stats-prunable)
    // does not move the mark; the next band continues from it
    s.sql("DELETE FROM graft_fix.sqlidn WHERE id > 100 AND id <= 150")
    require(snapshot(s, "sqlidn")
      .properties.get("graft.identity.hwm.id").contains("401"),
      "DELETE must not move the identity mark")
    s.sql("INSERT INTO graft_fix.sqlidn (doc_id, n_chars) " +
      "SELECT doc_id, n_chars FROM sqlidn_src " +
      "WHERE doc_id >= 400 AND doc_id < 450")
    require(snapshot(s, "sqlidn")
      .properties.get("graft.identity.hwm.id").contains("451"),
      "the post-delete band must continue from the standing mark")
    // uniqueness sanity, assignment-free
    require(s.sql("SELECT count(*) - count(DISTINCT id) " +
      "FROM graft_fix.sqlidn").head().getLong(0) == 0L,
      "identity ids must be unique")
    s.sql("""SELECT CAST((id - 1) DIV 50 AS BIGINT) AS band,
            |  CAST(count(*) AS BIGINT) AS n,
            |  CAST(min(id) AS BIGINT) AS lo,
            |  CAST(max(id) AS BIGINT) AS hi,
            |  CAST(sum(id) AS BIGINT) AS sid
            |FROM graft_fix.sqlidn GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** STRUCT columns in manifest tables + struct-field UPDATE,
    * oracle-replayed: a `STRUCT<lang, n>` column is created, appended
    * (banded, so its LEAF carries per-file footer stats), probed with
    * a struct-leaf predicate whose `FileSourceScanExec.numFiles` must
    * prove leaf-stats pruning, then mutated twice through the SQL
    * face — `SET meta.n = meta.n + 1000` (field rebuild, whole-column
    * projection, doc_id-banded candidate pruning) and `SET meta.lang`
    * under a struct-leaf WHERE. DuckDB replays the leaves as scalars
    * (the final SELECT projects them out — struct values never cross
    * the comparator).
    */
  def manifestStructUpdateQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlstu",
      "(doc_id BIGINT, meta STRUCT<lang: STRING, n: BIGINT>)",
      rows = "SELECT doc_id, named_struct('lang', lang, 'n', doc_id)")
    // struct-LEAF pruning on the planner path: the footer keys leaf
    // stats by dot path (meta.n), the skipping evaluator resolves the
    // resolved GetStructField to the same key
    val read = filesRead(s.sql("SELECT doc_id FROM graft_fix.sqlstu " +
      "WHERE meta.n >= 120 AND meta.n < 180"))
    require(read.nonEmpty && read.sum < before.files.size,
      s"struct-leaf probe read ${read.sum} of ${before.files.size} " +
        "files — meta.n footer stats did not prune")
    // field UPDATE: rebuilds the column, preserves siblings, prunes
    // candidates on the banded doc_id
    s.sql("""UPDATE graft_fix.sqlstu SET meta.n = meta.n + 1000
            |WHERE doc_id >= 100 AND doc_id < 200""".stripMargin)
    val preLeaf = landed(s, "sqlstu", "update", "struct-field UPDATE")
    rewrote(before, preLeaf, before.files.size / 2, "struct-field UPDATE")
    // a struct-leaf WHERE drives the row op — and PRUNES on the same
    // dotted leaf stats (resolveStructPaths binds meta.n on the
    // SQL-string seam too): only the band the first UPDATE bumped past
    // 1150 can match
    s.sql("UPDATE graft_fix.sqlstu SET meta.lang = 'xx' " +
      "WHERE meta.n >= 1150")
    rewrote(preLeaf, snapshot(s, "sqlstu"), preLeaf.files.size / 2,
      "struct-leaf UPDATE")
    s.sql("SELECT doc_id, meta.lang AS mlang, meta.n AS mn " +
      "FROM graft_fix.sqlstu ORDER BY doc_id")
  }

  /** Correlated SCALAR subqueries in UPDATE SET, oracle-replayed — the
    * everyday enrichment idiom (`graft.plans.GraftDmlRule
    * .scalarSubqueryLowering`): statement 1 fills `n_chars` from the
    * matching source row inside a WHERE band — matched rows take the
    * joined value, in-band unmatched rows NULL-fill (SQL scalar
    * semantics), out-of-band rows stay untouched, and the WHERE doubles
    * as the candidate SCOPE (REQUIREd: the NMBS rewrite stays a strict
    * subset of the files). Statement 2 exercises the AGGREGATE-rooted
    * shape (group-by decorrelation) with a shifted key. DuckDB replays
    * both as a self-join.
    */
  def manifestSqlUpdateCorrSetQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlucs")
    // enrichment: rows 120-180 match the bounded source (+1000); rows
    // 100-120 and 180-200 are in the WHERE but match nothing → NULL;
    // everything else is out of scope and untouched
    s.sql("""UPDATE graft_fix.sqlucs t
            |SET n_chars = (SELECT s.n_chars + 1000 FROM sqlucs_src s
            |               WHERE s.doc_id = t.doc_id
            |                 AND s.doc_id >= 120 AND s.doc_id < 180)
            |WHERE t.doc_id >= 100 AND t.doc_id < 200""".stripMargin)
    rewrote(before, landed(s, "sqlucs", "merge", "correlated-SET UPDATE"),
      before.files.size / 2, "correlated-SET UPDATE")
    // aggregate shape: per-row max over a SHIFTED key — rows >= 300
    // read the lang of doc_id - 300 (always present: 0-100)
    s.sql("""UPDATE graft_fix.sqlucs t
            |SET lang = (SELECT max(s.lang) FROM sqlucs_src s
            |            WHERE s.doc_id + 300 = t.doc_id)
            |WHERE t.doc_id >= 300""".stripMargin)
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlucs " +
      "ORDER BY doc_id")
  }

  /** Correlated SCALAR COMPARISONS in DELETE/UPDATE WHERE, oracle-
    * replayed — the last decorrelation shape (`WHERE n_chars <
    * (SELECT ... WHERE s.k = t.k)`): the scalar rides the source frame
    * as a value column guarding the single MATCHED clause, so no-match
    * rows are never matched — exactly SQL's NULL-comparison filtering —
    * and candidates stay SOURCE-KEY-PRUNED (no NMBS: REQUIREd strict
    * subset). The aggregate-rooted UPDATE shape groups per key. DuckDB
    * replays both as self-joins.
    */
  def manifestSqlWhereScalarQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlwsc")
    // DELETE rows shorter than their 150-shifted witness: only doc_ids
    // with a witness (>= 150, < 250 after the shift bound) can match —
    // the 100-250 band, so candidates prune to a strict subset
    s.sql("""DELETE FROM graft_fix.sqlwsc t
            |WHERE n_chars < (SELECT s.n_chars FROM sqlwsc_src s
            |                 WHERE s.doc_id - 150 = t.doc_id
            |                   AND s.doc_id < 400)""".stripMargin)
    rewrote(before, landed(s, "sqlwsc", "merge", "scalar-WHERE DELETE"),
      before.files.size, "scalar-WHERE DELETE")
    // UPDATE under an aggregate-rooted scalar comparison: bump the
    // surviving rows at least as long as their 200-below witness
    // (grouped per correlation key; rows without one stay untouched)
    s.sql("""UPDATE graft_fix.sqlwsc t SET n_chars = n_chars + 10000
            |WHERE n_chars >= (SELECT max(s.n_chars) FROM sqlwsc_src s
            |                  WHERE s.doc_id + 200 = t.doc_id)""".stripMargin)
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlwsc " +
      "ORDER BY doc_id")
  }

  /** UNCORRELATED subqueries inside MERGE clause conditions, UPDATE SET
    * values and INSERT VALUES, oracle-replayed: they ride the command
    * as held expressions and literalize once per statement — exact
    * integer scalars (min/max/count), so DuckDB computes the identical
    * values in its replay.
    */
  def manifestSqlMergeSubqueryQ(s: SparkSession, d: String): DataFrame = {
    banded(s, d, "sqlmsq")
    // matched rows split on an n_chars threshold from a scalar
    // subquery; updates add another scalar; inserts carry a third
    s.sql("""MERGE INTO graft_fix.sqlmsq t
            |USING (SELECT doc_id, lang, n_chars FROM sqlmsq_src
            |       WHERE doc_id >= 350 AND doc_id < 450) s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED AND t.n_chars >
            |    (SELECT min(n_chars) FROM sqlmsq_src WHERE doc_id < 450)
            |  THEN UPDATE SET n_chars = s.n_chars +
            |    (SELECT max(doc_id) FROM sqlmsq_src WHERE doc_id < 100)
            |WHEN MATCHED THEN DELETE
            |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
            |  VALUES (s.doc_id, s.lang,
            |    (SELECT count(*) FROM sqlmsq_src WHERE doc_id < 50))""".stripMargin)
    landed(s, "sqlmsq", "merge", "subquery MERGE")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmsq " +
      "ORDER BY doc_id")
  }

  /** THETA MERGE (an ON with no equality pair at all), oracle-replayed:
    * `ON t.doc_id >= s.lo AND t.doc_id < s.hi` over disjoint source
    * ranges updates each banded row at most once (the cardinality rules
    * are unchanged — overlapping ranges raise), and an out-of-range
    * source row INSERTs through the same full-ON anti join. Full-scope
    * candidates by construction (no key stat bounds a non-equi match —
    * the documented Delta-parity cost).
    */
  def manifestSqlMergeThetaQ(s: SparkSession, d: String): DataFrame = {
    banded(s, d, "sqlmth")
    s.sql("""MERGE INTO graft_fix.sqlmth t
            |USING (SELECT * FROM VALUES
            |         (150L, 250L, 1000L), (300L, 320L, 2000L),
            |         (9000L, 9010L, -1L)
            |       AS r(lo, hi, bump)) s
            |ON t.doc_id >= s.lo AND t.doc_id < s.hi
            |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.bump
            |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
            |  VALUES (s.lo, 'theta', s.bump)""".stripMargin)
    landed(s, "sqlmth", "merge", "theta MERGE")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmth " +
      "ORDER BY doc_id, lang")
  }

  /** Correlated NOT IN under the static no-NULL proof, oracle-replayed:
    * the target key is declared NOT NULL and the subquery pins its
    * output with IS NOT NULL, so the anti-join lowering is exact —
    * per correlation group, rows whose doc_id the subquery does not
    * name are deleted (NOT IN over the empty set is TRUE: rows with no
    * group at all go too).
    */
  def manifestSqlDeleteNotInQ(s: SparkSession, d: String): DataFrame = {
    banded(s, d, "sqldni",
      "(doc_id BIGINT NOT NULL, lang STRING, n_chars BIGINT)")
    // keep only the doc_ids the bounded subquery names WITHIN the
    // row's own lang group (each surviving row matches itself): < 260
    // and not in the excluded 40-80 band. The lang correlation makes
    // this the decorrelated NMBS path, not the literalizer.
    s.sql("""DELETE FROM graft_fix.sqldni t WHERE doc_id NOT IN
            |  (SELECT s.doc_id FROM sqldni_src s
            |   WHERE s.doc_id IS NOT NULL AND s.lang = t.lang
            |     AND s.doc_id < 260
            |     AND NOT (s.doc_id >= 40 AND s.doc_id < 80))""".stripMargin)
    landed(s, "sqldni", "merge", "NOT IN DELETE (the NMBS merge path)")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqldni " +
      "ORDER BY doc_id")
  }

  /** SHALLOW CLONE (`CALL system.clone`), oracle-replayed: one metadata
    * commit references the source's live files by absolute path —
    * REQUIREd zero data-file copies — and a divergent banded UPDATE on
    * the clone (a) leaves the source bit-identical (REQUIREd via
    * aggregate), (b) rewrites a strict subset of the clone's files
    * (stats travel, so candidate pruning holds), and (c) un-shares
    * exactly the touched entries (absolute and relative names coexist,
    * REQUIREd). DuckDB replays the clone's final state as arithmetic.
    */
  def manifestSqlCloneQ(s: SparkSession, d: String): DataFrame = {
    catalog(s)
    s.sql("DROP TABLE IF EXISTS graft_fix.sqlcln2")
    banded(s, d, "sqlcln")
    s.sql("CALL graft_fix.system.clone(" +
      "source => 'sqlcln', target => 'sqlcln2')")
    // ZERO data-file copies
    val fs = fsOf(s, wh)
    val dd = new org.apache.hadoop.fs.Path(s"$wh/sqlcln2/data")
    require(!fs.exists(dd) || fs.listStatus(dd).isEmpty,
      "shallow clone copied data files")
    val cloneBefore = snapshot(s, "sqlcln2")
    // divergent banded UPDATE on the clone: pruned rewrite, source
    // untouched
    s.sql("UPDATE graft_fix.sqlcln2 SET n_chars = n_chars + 1000 " +
      "WHERE doc_id >= 100 AND doc_id < 200")
    val cloneAfter = snapshot(s, "sqlcln2")
    rewrote(cloneBefore, cloneAfter, cloneBefore.files.size / 2,
      "clone UPDATE")
    require(cloneAfter.files.exists(_.startsWith("/")) &&
      cloneAfter.files.exists(!_.startsWith("/")),
      "COW must un-share exactly the touched files")
    val srcSum = s.sql("SELECT sum(n_chars) FROM graft_fix.sqlcln")
      .head().getLong(0)
    val srcRef = s.sql("SELECT sum(n_chars) FROM sqlcln_src " +
      "WHERE doc_id < 400").head().getLong(0)
    require(srcSum == srcRef,
      s"a clone write reached the source ($srcSum != $srcRef)")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlcln2 " +
      "ORDER BY doc_id")
  }

  /** GENERATED-column derived pruning, oracle-replayed — Delta's
    * partition-pruning trick: the table is PARTITIONED BY a `day DATE
    * GENERATED ALWAYS AS (CAST(ts AS DATE))` column, and a predicate on
    * the raw `ts` ALONE prunes the date partitions (REQUIREd through
    * `FileSourceScanExec.numFiles`) because every pruning pass augments
    * the predicate with the derived `day` bound
    * ([[graft.ext.ManifestTable.withGeneratedDerived]]). A ts-band
    * DELETE proves the same bound on the row-op candidate path.
    * DuckDB replays the timestamps as arithmetic over `documents`.
    */
  def manifestSqlGeneratedPruningQ(s: SparkSession, d: String): DataFrame = {
    create(s, d, "sqlgpp", "(doc_id BIGINT, ts TIMESTAMP, " +
      "n_chars BIGINT, day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "PARTITIONED BY (day)")
    // one insert, ts = 2024-03-01 + doc_id hours (500 docs ≈ 21 days);
    // the partitioned write splits one file per derived day
    // DISTRIBUTE BY the day expression: one task per day, so the
    // partitioned write lands ONE file per date partition at any SF
    // (without it each of the N input tasks writes every day it holds
    // — N x days tiny files)
    s.sql("INSERT INTO graft_fix.sqlgpp (doc_id, ts, n_chars) " +
      "SELECT doc_id, TIMESTAMP'2024-03-01 00:00:00' + " +
      "make_interval(0, 0, 0, 0, CAST(doc_id AS INT)), n_chars " +
      "FROM sqlgpp_src WHERE doc_id < 500 " +
      "DISTRIBUTE BY CAST(TIMESTAMP'2024-03-01 00:00:00' + " +
      "make_interval(0, 0, 0, 0, CAST(doc_id AS INT)) AS DATE)")
    val snap = snapshot(s, "sqlgpp")
    require(snap.files.size >= 10,
      s"fixture degenerate: ${snap.files.size} day-partition files")
    // SCAN: the probe filters on ts ALONE; the derived day bound must
    // prune to the ±1-day file neighborhood
    val read = filesRead(s.sql("SELECT doc_id, n_chars FROM graft_fix.sqlgpp " +
      "WHERE ts >= TIMESTAMP'2024-03-05 00:00:00' " +
      "AND ts < TIMESTAMP'2024-03-07 00:00:00'"))
    require(read.nonEmpty && read.sum <= 3,
      s"ts-band probe read ${read.sum} of ${snap.files.size} files — " +
        "the derived day bound did not prune the date partitions")
    // ROW OP: a ts-band DELETE rewrites only the bounded day files
    s.sql("DELETE FROM graft_fix.sqlgpp " +
      "WHERE ts >= TIMESTAMP'2024-03-10 00:00:00' " +
      "AND ts < TIMESTAMP'2024-03-12 00:00:00'")
    rewrote(snap, snapshot(s, "sqlgpp"), 4, "ts-band DELETE")
    s.sql("SELECT doc_id, CAST(day AS STRING) AS day_s, n_chars " +
      "FROM graft_fix.sqlgpp ORDER BY doc_id")
  }

  /** ALTER TABLE RENAME COLUMN via column mapping, oracle-replayed:
    * banded inserts, a RENAME (metadata-only — the REQUIREs pin that
    * ZERO files moved), an insert THROUGH the new name, and a
    * planner-scan probe whose numFiles proves the manifest stats still
    * prune on the renamed column (physical keys are stable; the
    * logical→physical translation happens at predicate entry). The
    * final read hash-matches a DuckDB replay under the new name.
    */
  def manifestSqlRenameColumnQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlrnc")
    s.sql("ALTER TABLE graft_fix.sqlrnc RENAME COLUMN doc_id TO row_id")
    require(snapshot(s, "sqlrnc").files == before.files,
      "RENAME COLUMN moved data files — it must be metadata-only")
    // an insert THROUGH the new name (new files bind the stable
    // physical slot)
    s.sql("INSERT INTO graft_fix.sqlrnc " +
      "SELECT doc_id AS row_id, lang, n_chars FROM sqlrnc_src " +
      "WHERE doc_id >= 400 AND doc_id < 500")
    // planner probe on the RENAMED column: numFiles < total proves the
    // stats (keyed by the old physical name) still prune
    val read = filesRead(s.sql("SELECT row_id, lang, n_chars " +
      "FROM graft_fix.sqlrnc WHERE row_id >= 100 AND row_id < 200"))
    val total = snapshot(s, "sqlrnc").files.size
    require(read.nonEmpty && read.sum < total,
      s"renamed-column probe read ${read.sum} of $total files — " +
        "pruning did not survive the rename")
    s.sql("SELECT row_id, lang, n_chars FROM graft_fix.sqlrnc " +
      "ORDER BY row_id")
  }

  /** ALTER COLUMN TYPE widening, oracle-replayed: an INT column over
    * banded inserts widens to BIGINT as one metadata commit (REQUIREd
    * zero file moves), an insert lands values only the wide type can
    * hold, and a planner probe on the widened column proves the
    * OLD narrow files' stats still prune (numFiles REQUIRE: the
    * `n > 2.5e9` band provably lives only in the post-widening files —
    * the family-canonical stats contract). The final read upcasts the
    * narrow physical files and hash-matches DuckDB.
    */
  def manifestSqlWidenTypeQ(s: SparkSession, d: String): DataFrame = {
    val before = banded(s, d, "sqlwdn", "(doc_id BIGINT, n INT)",
      "SELECT doc_id, CAST(n_chars AS INT)")
    s.sql("ALTER TABLE graft_fix.sqlwdn ALTER COLUMN n TYPE BIGINT")
    require(snapshot(s, "sqlwdn").files == before.files,
      "ALTER COLUMN TYPE moved data files — widening must be metadata-only")
    s.sql("INSERT INTO graft_fix.sqlwdn " +
      "SELECT doc_id, CAST(n_chars + 3000000000 AS BIGINT) FROM sqlwdn_src " +
      "WHERE doc_id >= 400 AND doc_id < 500")
    // the wide band lives only in post-widening files; the narrow
    // files' INT-era stats must prove that and prune
    val read = filesRead(s.sql(
      "SELECT doc_id, n FROM graft_fix.sqlwdn WHERE n > 2500000000"))
    val total = snapshot(s, "sqlwdn").files.size
    require(read.nonEmpty && read.sum < total,
      s"wide-band probe read ${read.sum} of $total files — narrow-era " +
        "stats did not prune the widened predicate")
    s.sql("SELECT doc_id, n FROM graft_fix.sqlwdn ORDER BY doc_id")
  }

  /** ATOMIC `CREATE OR REPLACE TABLE AS SELECT`, oracle-replayed: the
    * staging seam ([[graft.ext.GraftCatalog.stageCreateOrReplace]] →
    * [[graft.ext.ManifestTable.replaceTable]]) swaps definition and
    * contents in ONE commit with the log intact. The REQUIREs pin the
    * atomicity evidence — exactly one version advanced, op `replace`,
    * and the PRE-replace contents still time-travel (Spark's default
    * DROP+CREATE fallback erases them) — then the post-replace rows,
    * re-derived from `documents`, hash-match DuckDB.
    */
  def manifestSqlReplaceQ(s: SparkSession, d: String): DataFrame = {
    create(s, d, "sqlrpl", "(doc_id BIGINT, lang STRING)")
    s.sql("INSERT INTO graft_fix.sqlrpl " +
      "SELECT doc_id, lang FROM sqlrpl_src WHERE doc_id < 100")
    val vBefore = graft.ext.ManifestTable.headVersion(s, s"$wh/sqlrpl")
    s.sql("""CREATE OR REPLACE TABLE graft_fix.sqlrpl AS
            |SELECT doc_id, lang, CAST(n_chars * 2 AS BIGINT) AS n2
            |FROM sqlrpl_src WHERE doc_id >= 50 AND doc_id < 350""".stripMargin)
    val after = snapshot(s, "sqlrpl")
    require(after.version == vBefore + 1 && after.op == "replace",
      s"REPLACE landed as ${after.op}@v${after.version} (from v$vBefore) " +
        "— not one atomic commit")
    require(graft.ext.ManifestTable.readVersion(s, s"$wh/sqlrpl", vBefore)
      .count() == 100L,
      "the pre-replace contents no longer time-travel — the log was erased")
    s.sql("SELECT doc_id, lang, n2 FROM graft_fix.sqlrpl ORDER BY doc_id")
  }

  /** The SQL maintenance face, oracle-replayed: a full operator
    * lifecycle driven by `CALL` stored procedures
    * ([[graft.ext.GraftProcedures]]) — clustered compaction, a CoW
    * DELETE, bin-packing, checkpoint, log expiry and a zero-grace
    * vacuum — then a plain SELECT whose rows DuckDB replays. The
    * REQUIREs pin each pass's observable effect (packing reduced the
    * file count, expiry dropped log entries, vacuum collected the
    * orphaned bytes) so a hash match certifies the maintained table,
    * not a lucky read.
    */
  def manifestSqlMaintenanceQ(s: SparkSession, d: String): DataFrame = {
    // a 4-commit starting log over every document: the open top band is
    // fine here, no require pins its row count
    banded(s, d, "sqlmnt", bands = Seq("doc_id < 100",
      "doc_id >= 100 AND doc_id < 220", "doc_id >= 220 AND doc_id < 350",
      "doc_id >= 350"))
    // clustered full compact: doc_id-ranged files. The output count is
    // a function of total bytes vs target (parallelism-proof only as
    // >= 2: ~500 tiny rows never fit one 4 KiB bin)
    val compacted = s.sql("CALL graft_fix.system.compact(" +
      "table => 'sqlmnt', target_file_bytes => 4096, " +
      "cluster_by => 'doc_id')").first()
    require(compacted.getInt(1) >= 2,
      s"fixture degenerate: compact wrote ${compacted.getInt(1)} files")
    // CoW delete of a band, then bin-pack the remnants
    s.sql("DELETE FROM graft_fix.sqlmnt WHERE doc_id >= 100 AND doc_id < 220")
    val packed = s.sql("CALL graft_fix.system.compact_small(" +
      "table => 'sqlmnt')").first()
    require(packed.getInt(0) > 0 && packed.getInt(1) < packed.getInt(0),
      s"compact_small packed ${packed.getInt(0)} -> ${packed.getInt(1)}")
    // bound the log, then collect the orphaned bytes
    s.sql("CALL graft_fix.system.checkpoint(table => 'sqlmnt')")
    // the checkpoint anchors at head, so retain 0 expires everything below
    val expired = s.sql("CALL graft_fix.system.expire_log(" +
      "table => 'sqlmnt', retain_versions => 0)").first().getInt(0)
    require(expired > 0, "expire_log dropped nothing from a 4-commit log")
    val deleted = s.sql("CALL graft_fix.system.vacuum(" +
      "table => 'sqlmnt', grace_seconds => 0)").first().getInt(0)
    require(deleted > 0, "vacuum collected nothing after two rewrites")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.sqlmnt ORDER BY doc_id")
  }

  /** SQL METADATA FACES, oracle-replayed: `<cat>.<t>.partitions` (and
    * siblings `history`/`files`/`detail`) answer operational reads from
    * manifest math alone — the REQUIREs pin that the `files` face lists
    * exactly the snapshot's live files and `history` ends in the insert
    * commit, then DuckDB certifies the per-partition row counts the
    * `partitions` face claims without opening one data file.
    */
  def manifestSqlMetaQ(s: SparkSession, d: String): DataFrame = {
    create(s, d, "sqlmeta", s"$DocSchema PARTITIONED BY (lang)")
    s.sql("INSERT INTO graft_fix.sqlmeta " +
      "SELECT doc_id, lang, n_chars FROM sqlmeta_src")
    val snap = snapshot(s, "sqlmeta")
    val files = s.sql("SELECT file FROM graft_fix.sqlmeta.files")
      .collect().map(_.getString(0)).toSet
    require(files == snap.files.toSet,
      s"files face listed ${files.size} of ${snap.files.size} live files")
    val lastOp = s.sql(
      "SELECT op FROM graft_fix.sqlmeta.history ORDER BY version DESC")
      .first().getString(0)
    require(lastOp == "append", s"history face ends in '$lastOp'")
    // column COMMENT: a metadata-only commit that DESCRIBE surfaces
    // (zero files move) — the SQL face of setColumnComment
    val filesBefore = snapshot(s, "sqlmeta").files.toSet
    s.sql("ALTER TABLE graft_fix.sqlmeta ALTER COLUMN n_chars " +
      "COMMENT 'character count'")
    require(snapshot(s, "sqlmeta").files.toSet == filesBefore,
      "COMMENT moved data files")
    val described = s.sql("DESCRIBE TABLE graft_fix.sqlmeta").collect()
      .collectFirst { case r if r.getString(0) == "n_chars" =>
        r.getString(2) }
    require(described.contains("character count"),
      s"DESCRIBE did not surface the column comment: $described")
    s.sql("SELECT lang, CAST(rows_known AS BIGINT) AS n_docs " +
      "FROM graft_fix.sqlmeta.partitions ORDER BY lang")
  }

  /** The CATALOG TABLE AS A STREAM, oracle-replayed: a table created
    * with the change-feed property, filled by SQL INSERT and mutated by
    * SQL UPDATE (whose CDC sidecar the property enables), then consumed
    * by `readStream.table` with `readChangeFeed` — the streaming
    * relation rewrites to the graft-manifest V1 source, options
    * passing through. The collected feed (inserts + update pre/post
    * images) replays in DuckDB. A sidecar-less UPDATE would FAIL the
    * stream, so a hash match certifies the whole property→DML→feed
    * chain.
    */
  def manifestTableStreamQ(s: SparkSession, d: String): DataFrame = {
    create(s, d, "sqlstrm",
      s"$DocSchema TBLPROPERTIES ('graft.enableChangeFeed' = 'true')")
    s.sql("INSERT INTO graft_fix.sqlstrm " +
      "SELECT doc_id, lang, n_chars FROM sqlstrm_src WHERE doc_id < 300")
    s.sql("UPDATE graft_fix.sqlstrm SET n_chars = n_chars + 1000 " +
      "WHERE doc_id % 5 = 0")
    drained(s, s.readStream.option("readChangeFeed", "true")
      .table("graft_fix.sqlstrm"), cdfSchema)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("_change_type"))
      .orderBy(col("_change_type"), col("doc_id"))
  }

  /** TAGS, oracle-replayed: `CALL create_tag` pins a version by name,
    * `VERSION AS OF '<tag>'` resolves it, and — the part worth an
    * oracle — zero-retention `expire_log` + zero-grace `vacuum` CANNOT
    * collect the tagged snapshot: the expiry floor holds at the tag and
    * vacuum keeps its files. The returned frame is the tagged read
    * AFTER both maintenance passes and a later overwrite of the live
    * table; DuckDB certifies it is byte-exact the pre-tag state.
    */
  def manifestSqlTagQ(s: SparkSession, d: String): DataFrame = {
    create(s, d, "sqltag")
    s.sql("INSERT INTO graft_fix.sqltag " +
      "SELECT doc_id, lang, n_chars FROM sqltag_src WHERE doc_id < 250")
    val tagged = s.sql("CALL graft_fix.system.create_tag(" +
      "table => 'sqltag', tag => 'baseline')").first()
    require(tagged.getString(0) == "baseline",
      s"create_tag returned ${tagged.getString(0)}")
    // mutate the live table past the tag, then retention at its most
    // aggressive: the tag must pin the old snapshot through both.
    // The replacement band is bounded on BOTH sides so the fixture is
    // scale-invariant (an open >= bound truncated to empty at sf0.01
    // and left thousands of rows at sf0.1)
    s.sql("INSERT OVERWRITE graft_fix.sqltag " +
      "SELECT doc_id, lang, CAST(0 AS BIGINT) FROM sqltag_src " +
      "WHERE doc_id >= 100 AND doc_id < 150")
    s.sql("CALL graft_fix.system.checkpoint(table => 'sqltag')")
    s.sql("CALL graft_fix.system.expire_log(" +
      "table => 'sqltag', retain_versions => 0)")
    s.sql("CALL graft_fix.system.vacuum(" +
      "table => 'sqltag', grace_seconds => 0)")
    val live = s.sql("SELECT count(*) FROM graft_fix.sqltag")
      .first().getLong(0)
    require(live == 50L, s"fixture degenerate: overwrite left $live rows")
    s.sql("SELECT doc_id, lang, n_chars " +
      "FROM graft_fix.sqltag VERSION AS OF 'baseline' ORDER BY doc_id")
  }

  /** The DV-AWARE planner scan, oracle-replayed (VERDICT r13 order #2):
    * after a merge-on-read delete leaves deletion vectors outstanding,
    * `scan().where(...)` must answer — clean files through the pruned
    * [[graft.ext.ManifestFileIndex]] branch, DV'd files anti-joined —
    * instead of refusing until compaction. The REQUIREs pin that the
    * vectors really were outstanding at read time and that the clean
    * branch still PRUNED on manifest stats (its numFiles at most the
    * clean files whose doc_id range reaches the filter, and below the
    * clean-file count): the one-point-delete-kills-planner-pruning
    * cliff is gone. The oracle replays delete + filter in DuckDB.
    */
  def manifestScanDvQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_scan_dv")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    // 1 KB files: several clean files on each side of the filter, so
    // the pruning below is observable at every scale factor
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 1024, clusterBy = Seq("doc_id"))
    require(graft.ext.ManifestTable.deleteWhereDV(s, root,
      "doc_id >= 100 AND doc_id < 220", "d0"), "deleteWhereDV did not commit")
    val snap = graft.ext.ManifestTable.snapshot(s, root)
    val dvd = snap.files.filter(f => snap.dvs.get(f).exists(_.nonEmpty))
    require(dvd.nonEmpty, "fixture degenerate: no outstanding DVs")
    val clean = snap.files.size - dvd.size
    val df = graft.ext.ManifestTable.scan(s, root).where("doc_id >= 150")
    // the clean branch is the scan through the manifest's file index
    val reads = filesRead(df,
      _.relation.location.isInstanceOf[graft.ext.ManifestFileIndex])
    require(reads.nonEmpty, "the clean branch planned no ManifestFileIndex scan")
    // it may open only the clean files whose doc_id range reaches 150
    val reach = snap.files.filterNot(dvd.contains).count(f =>
      snap.stats.get(f).flatMap(_.cols.get("doc_id")).flatMap(_.max)
        .forall(_.toLong >= 150))
    val read = reads.sum
    require(read <= reach && read < clean,
      s"DV-aware scan read $read of $clean clean files, $reach of which " +
        "can hold doc_id >= 150 — no pruning")
    df.orderBy("doc_id")
  }

  /** Copy-on-write DELETE, oracle-replayed: the documents table lands in
    * a manifest table, a clustered compaction builds per-file doc_id
    * ranges, then `deleteWhere` removes a doc_id band. The REQUIRE pins
    * that candidate selection PRUNED — the delete rewrote O(matching
    * files), not the table (at 100 TB that is the whole difference
    * between a surgical delete and a table rewrite). The op is replayed
    * (absorbed opId → no-op) before the final read, so a hash match also
    * certifies effectively-once row-level ops.
    */
  def manifestDeleteQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_delete")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    val pred = "doc_id >= 100 AND doc_id < 220"
    val (cand, total) = graft.ext.ManifestTable.pruneInfo(s, root, pred)
    require(total == 1 || cand < total,
      s"delete candidate pruning pruned nothing: $cand of $total files")
    require(graft.ext.ManifestTable.deleteWhere(s, root, pred, "d0"),
      "deleteWhere did not commit")
    require(!graft.ext.ManifestTable.deleteWhere(s, root, pred, "d0"),
      "replayed delete opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** Copy-on-write UPDATE, oracle-replayed: SET two columns (one from an
    * expression over the OLD row, one constant) where `lang = 'de'`,
    * through the same candidate-pruned rewrite-and-swap as the delete;
    * the cast-back-to-column-type contract keeps n_chars a BIGINT. The
    * oracle recomputes the row-conditional values with CASE, so a hash
    * match certifies matched rows changed exactly and unmatched rows
    * passed through byte-identical.
    */
  def manifestUpdateQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_update")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    require(graft.ext.ManifestTable.updateWhere(s, root, "lang = 'de'",
      Map("n_chars" -> "n_chars * 2 + 1", "lang" -> "'de-DE'"), "u0"),
      "updateWhere did not commit")
    require(!graft.ext.ManifestTable.updateWhere(s, root, "lang = 'de'",
      Map("n_chars" -> "n_chars * 2 + 1", "lang" -> "'de-DE'"), "u0"),
      "replayed update opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** METADATA-ONLY DELETE, oracle-replayed: on a lang-partitioned
    * table, `DELETE WHERE lang = 'de'` drops exactly the partition's
    * files from the manifest — zero rewrites (the REQUIREs pin no adds
    * and survivors byte-identical by name), zero data reads (every
    * candidate's stats prove a full match via Skipping.provesAll). At
    * 100 TB this is the difference between a partition drop being one
    * manifest commit and being a multi-TB rewrite. The oracle replays
    * the delete's visible result in DuckDB.
    */
  def manifestDeleteMetaQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_delete_meta")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs",
      partitionBy = Seq("lang"))
    val before = graft.ext.ManifestTable.snapshot(s, root)
    val deFiles = before.files.filter(f =>
      before.pvals(f)("lang").value.contains("de")).toSet
    require(deFiles.nonEmpty && deFiles.size < before.files.size,
      s"fixture degenerate: ${deFiles.size} de files of ${before.files.size}")
    require(graft.ext.ManifestTable.deleteWhere(s, root, "lang = 'de'",
      "d0"), "deleteWhere did not commit")
    val after = graft.ext.ManifestTable.snapshot(s, root)
    require(after.files.toSet == before.files.toSet -- deFiles,
      "partition delete should drop exactly the partition's files " +
        "and rewrite nothing")
    require(!graft.ext.ManifestTable.deleteWhere(s, root, "lang = 'de'",
      "d0"), "replayed delete opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** INSERT OVERWRITE WHERE (replaceWhere), oracle-replayed: the de
    * partition of a lang-partitioned table is atomically replaced by a
    * re-derived frame (n_chars shifted). The REQUIREs pin the backfill
    * shape — old de files dropped by pure metadata (partition point
    * stats prove full coverage), non-de files untouched, every new file
    * recorded under the de partition tuple — and the replay-absorbed
    * opId. The oracle rebuilds the swap with NOT/UNION ALL, so a hash
    * match certifies replaced-exactly and untouched-survive.
    */
  def manifestOverwriteQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_overwrite")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs",
      partitionBy = Seq("lang"))
    val before = graft.ext.ManifestTable.snapshot(s, root)
    val deFiles = before.files.filter(f =>
      before.pvals(f)("lang").value.contains("de")).toSet
    require(deFiles.nonEmpty && deFiles.size < before.files.size,
      s"fixture degenerate: ${deFiles.size} de files")
    val fresh = docs.filter(col("lang") === "de")
      .withColumn("n_chars", col("n_chars") + 1000)
    require(graft.ext.ManifestTable.overwriteWhere(fresh, root,
      "lang = 'de'", "o0"), "overwriteWhere did not commit")
    val after = graft.ext.ManifestTable.snapshot(s, root)
    require(deFiles.forall(f => !after.files.contains(f)) &&
      (before.files.toSet -- deFiles).subsetOf(after.files.toSet),
      "overwrite should drop exactly the old partition's files")
    val added = after.files.toSet -- before.files.toSet
    require(added.nonEmpty && added.forall(f =>
      after.pvals.get(f).exists(_("lang").value.contains("de"))),
      "overwrite's new files must land under the de partition tuple")
    require(!graft.ext.ManifestTable.overwriteWhere(fresh, root,
      "lang = 'de'", "o0"), "replayed overwrite opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** MERGE-ON-READ delete, oracle-replayed against the SAME DuckDB
    * DELETE oracle as [[manifestDeleteQ]]: one table, two delete
    * strategies, one truth. The REQUIRE pins the strategy's whole point
    * at the file level — NOTHING is rewritten: files the stats prove
    * fully inside the band drop by pure metadata, the edge files earn
    * deletion-vector sidecars of O(matched rows) (at 100 TB that is a
    * few KB for a point delete where copy-on-write rewrites half a
    * GB). The op replays as a no-op before the read, and the read
    * applies the vectors via a broadcast anti-join on (file, position).
    */
  def manifestDeleteDvQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_delete_dv")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    val pred = "doc_id >= 100 AND doc_id < 220"
    val before = graft.ext.ManifestTable.snapshot(s, root)
    // the files whose stats PROVE full coverage must drop by metadata;
    // every other candidate earns a vector; nothing is rewritten
    val expectWhole = before.files.filter(f =>
      before.stats.get(f).exists(_.cols.get("doc_id").exists(c =>
        c.nulls == 0L && c.min.exists(_.toLong >= 100L) &&
          c.max.exists(_.toLong < 220L)))).toSet
    require(graft.ext.ManifestTable.deleteWhereDV(s, root, pred, "d0"),
      "deleteWhereDV did not commit")
    val after = graft.ext.ManifestTable.snapshot(s, root)
    require(after.files.toSet == before.files.toSet -- expectWhole,
      s"DV delete should drop EXACTLY the ${expectWhole.size} provably-" +
        "covered files and rewrite nothing")
    require(after.dvs.nonEmpty, "DV delete recorded no deletion vector")
    require(!graft.ext.ManifestTable.deleteWhereDV(s, root, pred, "d0"),
      "replayed DV delete opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** DV MAINTENANCE, oracle-replayed against the SAME DuckDB DELETE
    * oracle as [[manifestDeleteQ]] a third time: after a clustered DV
    * delete of a doc_id band, `purgeDeletes` must rewrite ONLY the
    * files whose deleted fraction crossed the threshold (the band's
    * files — the REQUIREs pin that every other file survives
    * byte-identical and that the rewritten files' vector references
    * are cleared), and the table must read identically before and
    * after — a purge is invisible to readers, it just stops the
    * per-read anti-join rent on delete-heavy files.
    */
  def manifestDvCompactQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_dv_compact")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    require(graft.ext.ManifestTable.deleteWhereDV(s, root,
      "doc_id >= 100 AND doc_id < 220", "d0"),
      "deleteWhereDV did not commit")
    val before = graft.ext.ManifestTable.snapshot(s, root)
    require(before.dvs.nonEmpty, "DV delete recorded no deletion vector")
    // threshold from the ACTUAL per-file deleted fractions: file widths
    // are byte/compression-dependent (the optimized write packs the
    // append into one file before the 4 KB re-split), so a constant 0.2
    // can straddle the band across files that each sit just under it;
    // 90% of the highest observed fraction always crosses on ≥1 file
    // and never the whole table (the band is a strict doc_id subset)
    val fracs = before.dvs.toSeq.flatMap { case (f, refs) =>
      before.stats.get(f).filter(_.rows > 0)
        .map(st => refs.map(_.rows).sum.toDouble / st.rows) }
    require(fracs.nonEmpty, "no DV'd file carries row stats")
    val (rewritten, _) = graft.ext.ManifestTable.purgeDeletes(s, root,
      maxDeletedFraction = math.max(fracs.max * 0.9, 1e-9))
    require(rewritten > 0, "purge rewrote nothing despite a deleted band")
    require(rewritten < before.files.size,
      s"purge rewrote all ${before.files.size} files — not targeted")
    val after = graft.ext.ManifestTable.snapshot(s, root)
    require(before.files.count(after.files.contains) ==
      before.files.size - rewritten,
      "purge touched files outside its candidates")
    require(after.dvs.keySet.subsetOf(after.files.toSet),
      "purge left a vector reference on a retired file")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** MERGE-ON-READ update against the SAME oracle as [[manifestUpdateQ]]:
    * matched rows land as a deletion vector + O(matched) appended
    * rewrites; every pre-existing data file survives untouched (the
    * REQUIRE), unmatched rows are never read back through a rewrite.
    */
  def manifestUpdateDvQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_update_dv")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    val set = Map("n_chars" -> "n_chars * 2 + 1", "lang" -> "'de-DE'")
    val before = graft.ext.ManifestTable.snapshot(s, root)
    require(graft.ext.ManifestTable.updateWhereDV(s, root, "lang = 'de'",
      set, "u0"), "updateWhereDV did not commit")
    val after = graft.ext.ManifestTable.snapshot(s, root)
    require(before.files.forall(after.files.contains),
      "DV update rewrote pre-existing files — merge-on-read should append only")
    require(!graft.ext.ManifestTable.updateWhereDV(s, root, "lang = 'de'",
      set, "u0"), "replayed DV update opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** METADATA-ONLY COUNT, oracle-replayed: after an append and a DV
    * delete, `count(*)` is answered purely from the manifest's footer
    * row counts minus the deletion vectors' position counts — zero data
    * files opened (pinned at the FS seam by ManifestDvSpec; here the
    * REQUIRE pins the answer exists, the oracle pins it EQUALS DuckDB's
    * real COUNT(*)). The one-sided honesty contract: a table where any
    * live file lacks stats answers None and the caller runs the real
    * count — metadata answers only what it can prove.
    */
  def manifestCountMetaQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = freshRoot(s, "/tmp/graft_fix/manifest_count_meta")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    require(graft.ext.ManifestTable.deleteWhereDV(s, root,
      "doc_id >= 100 AND doc_id < 150", "d0"), "DV delete did not commit")
    val n = graft.ext.ManifestTable.metaCount(s, root)
    require(n.isDefined, "metaCount could not prove a total despite stats")
    Seq(n.get).toDF("cnt")
  }

  /** METADATA-ONLY MIN/MAX, oracle-replayed: across two appends (so the
    * fold spans files), `metaMinMax` must answer min/max of a long and
    * a string column purely from manifest ColStats — zero data I/O —
    * and EQUAL DuckDB's real MIN/MAX. The REQUIREs also pin the honesty
    * edges here (a DV'd table answers None — the deleted row could be
    * the extremum — and an unknown column answers None), with the full
    * fallback matrix in ManifestDvSpec.
    */
  def manifestMetaMinMaxQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = freshRoot(s, "/tmp/graft_fix/manifest_meta_minmax")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs.filter(col("doc_id") % 2 === 0),
      root, "even")
    graft.ext.ManifestTable.append(docs.filter(col("doc_id") % 2 === 1),
      root, "odd")
    require(graft.ext.ManifestTable.metaMinMax(s, root, "missing").isEmpty,
      "metaMinMax answered for a column that does not exist")
    val idMm = graft.ext.ManifestTable.metaMinMax(s, root, "doc_id")
    val langMm = graft.ext.ManifestTable.metaMinMax(s, root, "lang")
    require(idMm.isDefined && langMm.isDefined,
      "metaMinMax could not prove an answer despite full stats")
    // the honesty edge: one DV'd file forces fallback table-wide
    require(graft.ext.ManifestTable.deleteWhereDV(s, root, "doc_id = 0",
      "d0"), "DV delete did not commit")
    require(graft.ext.ManifestTable.metaMinMax(s, root, "doc_id").isEmpty,
      "metaMinMax answered over a deletion vector")
    Seq((idMm.get._1.get.asInstanceOf[Long],
      idMm.get._2.get.asInstanceOf[Long],
      langMm.get._1.get.asInstanceOf[String],
      langMm.get._2.get.asInstanceOf[String]))
      .toDF("min_doc", "max_doc", "min_lang", "max_lang")
  }

  /** MERGE (upsert), oracle-replayed: the source carries one tight
    * doc_id band as UPDATES (n_chars shifted) plus ~1/11 of the table
    * re-keyed as INSERTS (doc_id offset past the table's range).
    * Candidate files come from the source's key set — the REQUIRE pins
    * that the clustered table pruned (files outside the band provably
    * hold no source key and are never read; the insert keys sit above
    * every file's max, so they prune for free). The merge replays as a
    * no-op before the final read; the oracle rebuilds the upsert with
    * NOT IN + UNION ALL, so a hash match certifies matched-replace,
    * unmatched-insert, and untouched-survive in one row.
    */
  def manifestMergeQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_merge")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))
    val src = docs.filter(col("doc_id") >= 140 && col("doc_id") < 180)
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
    val before = graft.ext.ManifestTable.snapshot(s, root)
    require(graft.ext.ManifestTable.merge(src, root, Seq("doc_id"), "m0"),
      "merge did not commit")
    val after = graft.ext.ManifestTable.snapshot(s, root)
    val untouched = before.files.count(after.files.contains)
    require(before.files.size == 1 || untouched > 0,
      s"merge pruned nothing: rewrote all ${before.files.size} files")
    require(!graft.ext.ManifestTable.merge(src, root, Seq("doc_id"), "m0"),
      "replayed merge opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** The APPEND-ONLY CHANGE FEED, oracle-replayed: three appends with a
    * compaction between them; the feed over versions (1, 4] must surface
    * exactly the rows batches b1 and b2 added, tagged with the version
    * that added them — and NOTHING from the compaction, whose rewritten
    * files carry every b0/b1 row (an implementation diffing file lists
    * without op provenance would double-count them). The oracle
    * recomputes each row's commit version from the batch rule, so a hash
    * match certifies exactly-once incremental consumption.
    */
  def manifestChangeFeedQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_feed")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def b(i: Long) = docs.filter(col("doc_id") % 3 === i)
    graft.ext.ManifestTable.append(b(0), root, "b0") // v1
    graft.ext.ManifestTable.append(b(1), root, "b1") // v2
    graft.ext.ManifestTable.compact(s, root)         // v3: pure rewrite
    graft.ext.ManifestTable.append(b(2), root, "b2") // v4
    graft.ext.ManifestTable.appendsBetween(s, root, 1L, 4L)
      .orderBy("doc_id")
  }

  /** The append feed classifying by DELTA CONTENT (r12 verdict order):
    * a PURE-INSERT merge — every source key above the clustered table's
    * file maxima, so pruning proves zero candidates and the commit
    * (op "merge") removes nothing — must ride the append-only feed,
    * and a zero-match `deleteWhereDV(cdc = true)` (op "delete", no
    * delta at all — just the absorbed opId) must contribute nothing
    * instead of poisoning it. The REQUIREs pin that the merge really
    * took the zero-candidate path (no pre-merge file rewritten) and
    * that both ops committed; the oracle rebuilds all three insert
    * waves with their commit versions, so a hash match certifies the
    * feed serves provably-insert-only commits regardless of op label.
    */
  def manifestFeedInsertMergeQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_feed_im")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def b(i: Long) = docs.filter(col("doc_id") % 3 === i)
    graft.ext.ManifestTable.append(b(0), root, "b0")          // v1
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id")) // v2: rewrite
    val src = b(1).withColumn("doc_id", col("doc_id") + 1000000)
    val before = graft.ext.ManifestTable.snapshot(s, root)
    require(graft.ext.ManifestTable.merge(src, root, Seq("doc_id"), "m0"),
      "merge did not commit")                                 // v3
    val after = graft.ext.ManifestTable.snapshot(s, root)
    require(after.op == "merge" &&
      before.files.forall(after.files.contains),
      "expected a pure-insert merge: op 'merge', zero files rewritten")
    require(graft.ext.ManifestTable.deleteWhereDV(s, root, "doc_id < 0",
      "d0", cdc = true),
      "zero-match DV delete did not absorb its opId")         // v4
    graft.ext.ManifestTable.append(b(2), root, "b1")          // v5
    graft.ext.ManifestTable.appendsBetween(s, root, 0L, 5L)
      .orderBy("doc_id")
  }

  /** [[manifestCdfQ]]'s five-version fold, built fresh at `root`. */
  private def buildCdfFixture(s: SparkSession, d: String,
                              root: String): Unit = {
    freshRoot(s, root)
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")           // v1
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))    // v2
    require(graft.ext.ManifestTable.deleteWhere(s, root,
      "doc_id >= 100 AND doc_id < 150", "d0", cdc = true))       // v3
    require(graft.ext.ManifestTable.updateWhere(s, root, "lang = 'de'",
      Map("n_chars" -> "n_chars + 7"), "u0", cdc = true))        // v4
    val src = docs.filter(col("doc_id") >= 200 && col("doc_id") < 220)
      .withColumn("n_chars", col("n_chars") + 1000)
      .unionByName(docs.filter(col("doc_id") % 31 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
    require(graft.ext.ManifestTable.merge(src, root, Seq("doc_id"),
      "m0", cdc = true))                                         // v5
  }

  private val cdfSchema = new StructType()
    .add("doc_id", "long").add("lang", "string").add("n_chars", "long")
    .add("_change_type", "string").add("commit_version", "long")

  /** The FULL CHANGE DATA FEED, oracle-replayed: a five-version fold —
    * append, clustered compaction, CDC delete of a doc_id band, CDC
    * update of the `de` rows, CDC merge (band of updates + re-keyed
    * inserts) — then `changesBetween(0, 5)` must reproduce the typed
    * log exactly: v1's inserts, nothing from the compaction, the delete
    * band, update pre/postimages, and the merge's matched pre/post plus
    * unmatched inserts, each tagged with its commit version. The oracle
    * recomputes every change set from the source table INCLUDING the
    * state dependencies (the v5 preimages carry v4's updated values),
    * so a hash match certifies the feed is a faithful replayable log of
    * the table's row-level history — the CDC contract itself.
    */
  def manifestCdfQ(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/manifest_cdf"
    buildCdfFixture(s, d, root)
    graft.ext.ManifestTable.changesBetween(s, root, 0L, 5L)
      .orderBy("commit_version", "_change_type", "doc_id")
  }

  /** BATCH CDF THROUGH THE CATALOG TABLE NAME, oracle-replayed: the
    * same five-version fold as [[manifestCdfQ]], consumed as
    * `spark.read.option("readChangeFeed", true).table("cat.t")` — the
    * reader-options seam ([[graft.plans.GraftReadOptions]]) that used
    * to silently read the table level. One DuckDB oracle, three
    * consumption paths (batch API, stream, catalog name) — a hash match
    * certifies the option-driven read IS the feed, column-for-column
    * (`SELECT *` expands over the CDC schema, which is why the rewrite
    * must happen at resolution).
    */
  def manifestTableCdfBatchQ(s: SparkSession, d: String): DataFrame = {
    catalog(s)
    val root = s"$wh/cdfb"
    buildCdfFixture(s, d, root)
    s.read.option("readChangeFeed", "true").table("graft_fix.cdfb")
      .orderBy("commit_version", "_change_type", "doc_id")
  }

  /** The STREAMING CHANGE FEED, oracle-replayed: the same five-version
    * fold as [[manifestCdfQ]], but consumed through the real streaming
    * engine — `readStream.format("graft-manifest").option(
    * "readChangeFeed", true)` — whose micro-batches carry the typed CDC
    * rows (appends as inserts from the data files themselves, row-level
    * commits from their sidecars). The collected sink must hash-match
    * the SAME DuckDB oracle as the batch feed: one oracle, two
    * consumption paths, certifying the stream delivers exactly the
    * batch feed's rows — nothing doubled across the compaction, nothing
    * dropped across the row ops.
    */
  def manifestCdfStreamReplayQ(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/manifest_cdf_stream"
    buildCdfFixture(s, d, root)
    drained(s, s.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(root), cdfSchema)
      .orderBy("commit_version", "_change_type", "doc_id")
  }

  /** The CDC fold where every row-level op is MERGE-ON-READ: a DV
    * delete (sidecar + deletion vector, no rewrite), a ZERO-MATCH DV
    * delete ran with cdc = true (commits as an empty op — the feed must
    * skip it by delta content instead of demanding a sidecar it never
    * needed), and a DV update. The REQUIREs pin the merge-on-read
    * shape (file set unchanged by the delete, pre-existing files
    * surviving the update) and that the feed walks ACROSS the empty op
    * without raising; the DuckDB oracle pins that the sidecars recorded
    * exactly the CoW ops' change rows — one CDC contract, both write
    * strategies.
    */
  private def buildCdfDvFixture(s: SparkSession, d: String,
                                root: String): Unit = {
    freshRoot(s, root)
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")           // v1
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))    // v2
    val v2 = graft.ext.ManifestTable.snapshot(s, root)
    // files whose stats prove full band coverage drop by metadata, the
    // edge files earn vectors, nothing is rewritten (no adds)
    val expectWhole = v2.files.filter(f =>
      v2.stats.get(f).exists(_.cols.get("doc_id").exists(c =>
        c.nulls == 0L && c.min.exists(_.toLong >= 100L) &&
          c.max.exists(_.toLong < 220L)))).toSet
    require(graft.ext.ManifestTable.deleteWhereDV(s, root,
      "doc_id >= 100 AND doc_id < 220", "d0", cdc = true))       // v3
    val v3 = graft.ext.ManifestTable.snapshot(s, root)
    require(v3.files.toSet == v2.files.toSet -- expectWhole &&
      v3.dvs.nonEmpty,
      "DV delete should drop exactly the covered files, vector the edges")
    require(graft.ext.ManifestTable.deleteWhereDV(s, root,
      "doc_id < 0", "d1", cdc = true))                           // v4: empty
    require(graft.ext.ManifestTable.updateWhereDV(s, root, "lang = 'de'",
      Map("n_chars" -> "n_chars + 7"), "u0", cdc = true))        // v5
    val v5 = graft.ext.ManifestTable.snapshot(s, root)
    require(v3.files.forall(v5.files.contains),
      "DV update rewrote pre-existing files")
  }

  def manifestCdfDvQ(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/manifest_cdf_dv"
    buildCdfDvFixture(s, d, root)
    // the walk spans the sidecar-less empty v4 — must not raise
    graft.ext.ManifestTable.changesBetween(s, root, 0L, 5L)
      .orderBy("commit_version", "_change_type", "doc_id")
  }

  /** [[manifestCdfDvQ]]'s history consumed through the real streaming
    * engine — same oracle, certifying the stream carries DV-op sidecar
    * rows and skips the empty cdc commit exactly like the batch feed.
    */
  def manifestCdfDvStreamReplayQ(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/manifest_cdf_dv_stream"
    buildCdfDvFixture(s, d, root)
    drained(s, s.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(root), cdfSchema)
      .orderBy("commit_version", "_change_type", "doc_id")
  }

  /** RESTORE-AWARE CDC, oracle-replayed (VERDICT r13 order #4): a DV
    * band delete (sidecar + vectors + whole-file drops), then RESTORE
    * to the pre-delete version — and the change feed SPANS the rewind:
    * the restore commit contributes its synthesized snapshot diff
    * (resurrected whole files as inserts, un-deleted DV positions as
    * inserts) instead of raising. The REQUIREs pin the fixture shape —
    * the delete really dropped files AND left vectors, the restore
    * really cleared them — so the diff exercises both resurrection
    * paths; the DuckDB oracle replays insert → delete → restore-insert
    * and a hash match certifies the feed reconstructs the exact rewind.
    */
  private def buildRestoreCdfFixture(s: SparkSession, d: String,
                                     root: String): Unit = {
    freshRoot(s, root)
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")           // v1
    graft.ext.ManifestTable.compact(s, root,
      targetFileBytes = 4L * 1024, clusterBy = Seq("doc_id"))    // v2
    val v2 = graft.ext.ManifestTable.snapshot(s, root)
    require(graft.ext.ManifestTable.deleteWhereDV(s, root,
      "doc_id >= 100 AND doc_id < 220", "d0", cdc = true))       // v3
    val v3 = graft.ext.ManifestTable.snapshot(s, root)
    // the band must leave vectors OUTSTANDING (the restore then clears
    // them — the resurrection path under test); whether it ALSO drops
    // fully-covered files depends on how the session's parallelism cut
    // the compaction ranges, and the diff is correct either way
    require(v3.dvs.nonEmpty,
      "fixture degenerate: the DV delete left no deletion vectors")
    require(graft.ext.ManifestTable.restore(s, root, 2L, "r0"))  // v4
    val v4 = graft.ext.ManifestTable.snapshot(s, root)
    require(v4.files.toSet == v2.files.toSet && v4.dvs.isEmpty,
      "restore should resurrect the exact pre-delete file set and " +
        "clear every vector")
  }

  def manifestRestoreCdfQ(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/manifest_restore_cdf"
    buildRestoreCdfFixture(s, d, root)
    graft.ext.ManifestTable.changesBetween(s, root, 0L, 4L)
      .orderBy("commit_version", "_change_type", "doc_id")
  }

  /** [[manifestRestoreCdfQ]]'s history consumed through the real
    * streaming engine — same oracle, certifying the streaming CDC
    * source carries the synthesized restore diff exactly once.
    */
  def manifestRestoreCdfStreamQ(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/manifest_restore_cdf_stream"
    buildRestoreCdfFixture(s, d, root)
    drained(s, s.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(root), cdfSchema)
      .orderBy("commit_version", "_change_type", "doc_id")
  }

  /** BIN-PACKING compaction, oracle-replayed: one right-sized file
    * plus a trickle of tiny appends (the streaming-sink shape), then
    * `compactSmall` — the REQUIREs pin that EXACTLY the under-sized
    * files repacked (the big file survives with its recorded size
    * untouched, fewer files out than in) and that the feeds skip the
    * rewrite. The oracle certifies the packed table still holds every
    * row: O(small bytes) maintenance, not O(table).
    */
  def manifestCompactSmallQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_compact_small")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") >= 20).coalesce(1), root, "big")
    (0 until 5).foreach(k => graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") >= k * 4 && col("doc_id") < (k + 1) * 4)
        .coalesce(1), root, s"small$k"))
    val s0 = graft.ext.ManifestTable.snapshot(s, root)
    val bigFile = s0.files.maxBy(s0.sizes)
    val thr = s0.sizes(bigFile)
    val (in, out) = graft.ext.ManifestTable.compactSmall(s, root,
      minFileBytes = thr)
    require(in == s0.files.size - 1 && out >= 1 && out < in,
      s"expected the ${s0.files.size - 1} small files to pack, " +
        s"got ($in, $out)")
    val s1 = graft.ext.ManifestTable.snapshot(s, root)
    require(s1.files.contains(bigFile) &&
      s1.sizes(bigFile) == s0.sizes(bigFile),
      "the right-sized file must survive byte-identical")
    require(graft.ext.ManifestTable.appendsBetween(s, root,
      s0.version, s1.version).isEmpty,
      "the feeds must skip a row-preserving repack")
    graft.ext.ManifestTable.read(s, root)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id")
  }

  /** RESTORE + timestamp travel, oracle-replayed: a band DELETE is
    * undone by `restore(v1)` — one metadata commit, nothing rewritten
    * (the REQUIREs pin the restored file set IS v1's byte-identical
    * set, the deleted state still time-travels, and `versionAt(now)`
    * resolves to the restore commit). The oracle is the untouched
    * documents table: a hash match certifies the rewind is exact.
    */
  def manifestRestoreQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_restore")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(docs, root, "docs")            // v1
    val v1 = graft.ext.ManifestTable.snapshot(s, root)
    require(graft.ext.ManifestTable.deleteWhere(s, root,
      "doc_id >= 100 AND doc_id < 220", "d0"))                    // v2
    require(graft.ext.ManifestTable.restore(s, root, 1L, "r0"))   // v3
    val head = graft.ext.ManifestTable.snapshot(s, root)
    require(head.version == 3L && head.op == "restore" &&
      head.files == v1.files,
      "restore should make v1's exact file set the head, rewriting nothing")
    require(graft.ext.ManifestTable.readVersion(s, root, 2L).count() <
      docs.count(), "the deleted state must still time-travel")
    require(graft.ext.ManifestTable.versionAt(s, root,
      System.currentTimeMillis()) == 3L,
      "versionAt(now) should resolve the restore commit")
    require(!graft.ext.ManifestTable.restore(s, root, 1L, "r0"),
      "replayed restore opId was not absorbed")
    graft.ext.ManifestTable.read(s, root).orderBy("doc_id")
  }

  /** The manifest table as a streaming SINK, oracle-replayed through an
    * engine-to-engine pipe: a staging table's APPEND FEED (real
    * streaming source, one manifest version per micro-batch) writes
    * into a lang-PARTITIONED manifest table via
    * `writeStream.format("graft-manifest")`. The REQUIREs pin the
    * transactional-sink shape — one `stream-<n>` manifest commit per
    * micro-batch, the writer's partitionBy declaring the layout, every
    * file carrying its tuple — and the DuckDB oracle certifies the
    * piped table holds exactly the source rows: exactly-once end to
    * end, no driver-side data movement anywhere.
    */
  def manifestSinkReplayQ(s: SparkSession, d: String): DataFrame = {
    val src = "/tmp/graft_fix/manifest_sink_src"
    val dst = "/tmp/graft_fix/manifest_sink_dst"
    val ckpt = "/tmp/graft_fix/manifest_sink_ckpt"
    Seq(src, dst, ckpt).foreach(freshRoot(s, _))
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 to 2).foreach(k => graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") % 3 === k), src, s"b$k"))
    val q = s.readStream.format("graft-manifest")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", ckpt)
      .partitionBy("lang")
      .outputMode("append").start(dst)
    try q.processAllAvailable() finally q.stop()
    val snap = graft.ext.ManifestTable.snapshot(s, dst)
    require(snap.batchIds == Set("stream-0", "stream-1", "stream-2"),
      s"expected one manifest commit per micro-batch, got ${snap.batchIds}")
    require(snap.partitionCols == Seq("lang"),
      "the writer's partitionBy did not declare the table layout")
    require(snap.files.forall(f =>
      snap.pvals.get(f).exists(_.contains("lang"))),
      "a streamed file is missing its partition tuple")
    graft.ext.ManifestTable.read(s, dst).orderBy("doc_id")
  }

  /** `writeStream.toTable` THROUGH THE CATALOG NAME, oracle-replayed:
    * the same engine-to-engine pipe as [[manifestSinkReplayQ]], but the
    * destination is a CREATEd, lang-partitioned catalog table addressed
    * as `graft_fix.strmsink` — no path anywhere on the write side. The
    * V1-fallback seam ([[graft.ext.GraftTableV2.v1Table]]) routes the
    * stream into the manifest sink at the table's directory; the
    * REQUIREs pin the per-micro-batch `stream-<n>` commits and that the
    * DECLARED layout partitioned every streamed file (writer passes no
    * partitionBy — the table's recorded layout is the authority). The
    * final rows are read back with plain SQL over the same name and
    * hash-match the source in DuckDB.
    */
  def manifestTableStreamSinkReplayQ(s: SparkSession, d: String): DataFrame = {
    catalog(s)
    val src = "/tmp/graft_fix/strmsink_src"
    val ckpt = "/tmp/graft_fix/strmsink_ckpt"
    val dst = s"$wh/strmsink"
    Seq(src, ckpt, dst).foreach(freshRoot(s, _))
    s.sql("DROP TABLE IF EXISTS graft_fix.strmsink")
    s.sql("CREATE TABLE graft_fix.strmsink " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT) PARTITIONED BY (lang)")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 to 2).foreach(k => graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") % 3 === k), src, s"b$k"))
    val q = s.readStream.format("graft-manifest")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", ckpt)
      .outputMode("append").toTable("graft_fix.strmsink")
    try q.processAllAvailable() finally q.stop()
    val snap = snapshot(s, "strmsink")
    require(snap.batchIds.intersect(
      Set("stream-0", "stream-1", "stream-2")).size == 3,
      s"expected one manifest commit per micro-batch, got ${snap.batchIds}")
    require(snap.partitionCols == Seq("lang"),
      "the CREATEd layout should bind the streamed writes")
    require(snap.files.forall(f =>
      snap.pvals.get(f).exists(_.contains("lang"))),
      "a streamed file is missing its partition tuple")
    s.sql("SELECT doc_id, lang, n_chars FROM graft_fix.strmsink " +
      "ORDER BY doc_id")
  }

  /** The MANIFEST TABLE AS A STREAM, oracle-replayed: the committed fold
    * (append v1, append v2, compact v3, append v4) is consumed by a
    * Structured Streaming query reading `format("graft-manifest")` with
    * `sinceVersion = 1` — offsets are manifest versions, each batch is
    * the append feed between them. The collected sink must hold exactly
    * the rows batches b1 and b2 appended: v1 is before the feed start,
    * and the v3 compaction (whose rewritten files carry every b0/b1
    * row) contributes nothing, by op provenance. The oracle recomputes
    * that subset, so a hash match certifies exactly-once incremental
    * consumption through the real streaming engine, not a simulation.
    */
  def manifestStreamReplayQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_stream")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def b(i: Long) = docs.filter(col("doc_id") % 3 === i)
    graft.ext.ManifestTable.append(b(0), root, "b0") // v1
    graft.ext.ManifestTable.append(b(1), root, "b1") // v2
    graft.ext.ManifestTable.compact(s, root)         // v3: pure rewrite
    graft.ext.ManifestTable.append(b(2), root, "b2") // v4
    drained(s, s.readStream.format("graft-manifest")
      .option("sinceVersion", "1").load(root), new StructType()
        .add("doc_id", "long").add("lang", "string").add("n_chars", "long"))
      .orderBy("doc_id")
  }

  /** SCHEMA EVOLUTION, oracle-replayed: batch b0 lands (doc_id, n_chars),
    * batch b1 adds a `lang` column, a compaction materializes the merged
    * schema into every file. The read must project ALL THREE columns
    * with b0's rows null-filling `lang` — the first-footer-wins failure
    * mode loses the column entirely when the scan's schema file predates
    * it. The oracle rebuilds the null-fill with CASE, so a hash match
    * certifies the schema-on-manifest read end to end.
    */
  def manifestSchemaEvolutionQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_evolve")
    val docs = t(s, d, "documents")
    graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"),
        col("n_chars")), root, "b0")
    graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"),
        col("n_chars"), col("lang")), root, "b1")
    graft.ext.ManifestTable.compact(s, root)
    graft.ext.ManifestTable.read(s, root)
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .orderBy("doc_id")
  }

  /** SCHEMA EVOLUTION on a PARTITIONED table, oracle-replayed (VERDICT
    * r13 order #6 — the two features previously composed only in
    * specs): a lang-partitioned table takes a second append carrying a
    * NEW nullable column, then a partition-predicate read spans old
    * and new files — old files null-fill the column, and the REQUIREs
    * pin that the layout survived the evolution (every new file
    * carries its tuple) and the read PRUNED to exactly the partition's
    * files across both generations (planner numFiles). The oracle
    * rebuilds the two-generation union in DuckDB.
    */
  def manifestPartitionEvolutionQ(s: SparkSession, d: String): DataFrame = {
    val root = freshRoot(s, "/tmp/graft_fix/manifest_part_evolve")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") % 2 === 0), root, "b0",
      partitionBy = Seq("lang"))
    graft.ext.ManifestTable.append(
      docs.filter(col("doc_id") % 2 === 1)
        .withColumn("score", col("n_chars") % 97), root, "b1")
    val snap = graft.ext.ManifestTable.snapshot(s, root)
    require(snap.partitionCols == Seq("lang"),
      "evolution must not disturb the declared layout")
    require(snap.files.forall(f =>
      snap.pvals.get(f).exists(_.contains("lang"))),
      "a post-evolution file lost its partition tuple")
    val deFiles = snap.files.count(f =>
      snap.pvals(f)("lang").value.contains("de"))
    require(deFiles > 0 && deFiles < snap.files.size,
      s"fixture degenerate: $deFiles de files of ${snap.files.size}")
    val df = graft.ext.ManifestTable.scan(s, root).where("lang = 'de'")
    val read = filesRead(df).sum
    require(read == deFiles,
      s"partition read touched $read files across the evolution; " +
        s"pruning promised $deFiles")
    df.select(col("doc_id"), col("lang"), col("n_chars"), col("score"))
      .orderBy("doc_id")
  }

  /** Interval-OVERLAP join (the [[rangeJoinQ]] sibling): which purchase
    * windows of the same user intersect? Self-overlap of the 30-minute
    * windows, a_id < b_id halving, against DuckDB's native two-sided
    * overlap predicate.
    */
  def rangeOverlapQ(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").withColumn("ts_us", unix_micros(col("ts")))
    val base = ev.filter(col("event_type") === "purchase" && col("user_id") % 5 === 0)
    def iv(p: String) = base.select(
      col("event_id").as(s"${p}id"), col("user_id").as(s"${p}user"),
      col("ts_us").as(s"${p}s"), (col("ts_us") + lit(1800000000L)).as(s"${p}e"))
    graft.ext.RangeJoin.overlapJoin(iv("a_"), iv("b_"),
        "a_s", "a_e", "b_s", "b_e", keys = Seq(("a_user", "b_user")),
        granularity = 600000000L)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .orderBy("a_id", "b_id")
  }

  /** Small-files compaction roundtrip: documents appended to a
    * [[graft.ext.ManifestTable]] as 16 small files (a keyed repartition
    * is layout intent, so the optimized write keeps it), compacted in
    * ONE manifest swap to a single right-sized file, read back — content
    * identical (the oracle is the source table).
    */
  def compactRoundtrip(s: SparkSession, d: String): DataFrame = {
    val work = freshRoot(s, "/tmp/graft_fix/compact_work")
    graft.ext.ManifestTable.append(
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .repartition(16, col("doc_id")), work, "b0")
    val (before, after) = graft.ext.ManifestTable.compact(s, work,
      targetFileBytes = 1024L * 1024 * 1024)
    require(before == 16 && after == 1,
      s"compaction folded $before files into $after, expected 16 into 1")
    graft.ext.ManifestTable.read(s, work).orderBy("doc_id")
  }

  /** Sketch-based corpus stats made ORACLE-CHECKABLE (VERDICT r9 #4):
    * sketch INTERNALS differ across engines, so the raw HLL/GK outputs
    * can never hash-match DuckDB — but the sketch's CONTRACT can. The
    * row carries the exact counts (replayable) plus one boolean per
    * estimate asserting it sits within its documented error bound of
    * the exact value, all computed inside the one Spark plan; the
    * oracle computes the same exact counts and declares the bounds TRUE.
    * A hash match therefore certifies both the exact arithmetic AND
    * that every estimate honored its accuracy contract — strictly
    * stronger than the old rows-only check (the raw estimates remain
    * spec-bounded in ExtSpec).
    *
    * Bounds: HLL at rsd=0.02 within 3σ of exact distinct; GK at
    * accuracy=1000 within rank ⌈p·n⌉ ± (n/accuracy + 1) — the published
    * guarantee of each sketch, with one rank of ceil-definition slack.
    */
  def approxStatsQ(s: SparkSession, d: String): DataFrame = {
    val rsd = 0.02
    val accuracy = 1000
    val base = t(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(col("text"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val sketch = TextAnalysis.approxCorpusStats(
        t(s, d, "documents"), "text", rsd, accuracy)
      .select(col("approx_distinct_docs"),
        col("tok_p50"), col("tok_p90"), col("tok_p99"))
    def rankOk(p: Double, n: org.apache.spark.sql.Column,
               le: org.apache.spark.sql.Column,
               lt: org.apache.spark.sql.Column) = {
      val target = ceil(lit(p) * n)
      val eps = n / lit(accuracy.toDouble) + lit(1.0)
      (le >= target - eps) && (lt <= target + eps)
    }
    base.crossJoin(broadcast(sketch))
      .groupBy(col("approx_distinct_docs"),
        col("tok_p50"), col("tok_p90"), col("tok_p99"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_exact"),
        sum(when(col("n_tok") <= col("tok_p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("n_tok") < col("tok_p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("n_tok") <= col("tok_p90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("n_tok") < col("tok_p90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("n_tok") <= col("tok_p99"), 1L).otherwise(0L)).as("le99"),
        sum(when(col("n_tok") < col("tok_p99"), 1L).otherwise(0L)).as("lt99"))
      .select(col("n_docs"), col("n_distinct_exact"),
        (abs(col("approx_distinct_docs") - col("n_distinct_exact")) <=
          lit(3 * rsd) * col("n_distinct_exact")).as("hll_within_3rsd"),
        rankOk(0.5, col("n_docs"), col("le50"), col("lt50")).as("p50_rank_ok"),
        rankOk(0.9, col("n_docs"), col("le90"), col("lt90")).as("p90_rank_ok"),
        rankOk(0.99, col("n_docs"), col("le99"), col("lt99")).as("p99_rank_ok"))
  }

  /** Corpus top-20 bigrams (count desc, gram asc tie order). */
  def topNgramsQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.topNgrams(t(s, d, "documents"), "text")

  /** Sliding 32-token/24-stride chunking over documents. */
  def chunkWindowsQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkWindows(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")

  /** Quality filter audit per document (keep/drop + failing rules). */
  def qualityFilterQ(s: SparkSession, d: String): DataFrame =
    graft.ext.QualityFilter.withQualityAudit(t(s, d, "documents"), "text")
      .select(col("doc_id"), col("drop_reasons"), col("keep"))
      .orderBy("doc_id")

  /** Per-rule drop counts over the same audit. */
  def qualityReportQ(s: SparkSession, d: String): DataFrame =
    graft.ext.QualityFilter.reasonReport(
      graft.ext.QualityFilter.withQualityAudit(t(s, d, "documents"), "text"))
      .orderBy("reason")

  def embedCosine(s: SparkSession, d: String): DataFrame =
    Similarity.cosineToQuery(t(s, d, "embeddings"), queryId = 0L)
      .filter(col("cos") >= 0.2)
      .select(col("vec_id"), round(col("cos"), 6).as("cos6"))
      .orderBy("vec_id")

  def embedTopK(s: SparkSession, d: String): DataFrame =
    Similarity.topK(t(s, d, "embeddings"), queryId = 0L, k = 10)
      .select(col("vec_id"), round(col("cos"), 6).as("cos6"))

  def embedLshBuckets(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(Similarity.bucket(col("embedding")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  def ivfAssignQ(s: SparkSession, d: String): DataFrame =
    Similarity.ivfAssign(t(s, d, "embeddings")).orderBy("vec_id")

  def ivfSearchQ(s: SparkSession, d: String): DataFrame =
    Similarity.ivfSearch(t(s, d, "embeddings"), queryId = 0L)
      .select(col("vec_id"), round(col("cos"), 6).as("cos6"))
      .orderBy("vec_id")

  /** Trained k-means centroids, flattened to (cid, pos, m) rows. */
  def ivfKmeansCentroids(s: SparkSession, d: String): DataFrame =
    Similarity.kmeansCentroids(t(s, d, "embeddings"), k = 8, iters = 2)
      .select(col("cid"), posexplode(col("cv")).as(Seq("pos", "m")))
      .orderBy("cid", "pos")

  /** Cell population after k-means training (k=8, 2 Lloyd rounds). */
  def ivfKmeansAssign(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    Similarity.assignTo(e, Similarity.kmeansCentroids(e, k = 8, iters = 2))
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .orderBy("centroid_id")
  }

  def ivfSearchNprobe2(s: SparkSession, d: String): DataFrame =
    Similarity.ivfSearch(t(s, d, "embeddings"), queryId = 0L, nprobe = 2)
      .select(col("vec_id"), round(col("cos"), 6).as("cos6"))
      .orderBy("vec_id")

  def annBucketed(s: SparkSession, d: String): DataFrame =
    Similarity.bucketedSearch(t(s, d, "embeddings"), queryId = 0L)
      .select(col("vec_id"), round(col("cos"), 6).as("cos6"))
      .orderBy("vec_id")

  /** Near-dup clusters as (id, rep) via min-label connected components. */
  def nearDupComponents(s: SparkSession, d: String): DataFrame =
    graft.ext.Components.components(
      MinHashLSH.nearDupPairs(plantedDocs3(s, d), "id", "text", threshold = 0.6))
      .orderBy("id")

  /** End-to-end near-dup dedup: one representative per cluster kept. */
  def dedupNearKeep(s: SparkSession, d: String): DataFrame =
    graft.ext.Components.nearDupKeep(plantedDocs3(s, d), "id", "text", 0.6)
      .select("id").orderBy("id")

  /** The canonical splits used by the sampling queries (weights are
    * normalized by splitByHash; bounds derived via Sampling.splitBounds
    * on BOTH the query and oracle side so the doubles are identical).
    */
  private val canonicalSplits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val stratRates = Seq("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25)

  /** Deterministic train/val/test assignment of every document. */
  def sampleSplitQ(s: SparkSession, d: String): DataFrame =
    Sampling.splitByHash(
      t(s, d, "documents").select(col("doc_id"), col("lang")),
      "doc_id", canonicalSplits)
      .select(col("doc_id"), col("lang"),
        round(Sampling.hashFraction(col("doc_id")), 6).as("frac6"), col("split"))
      .orderBy("doc_id")

  /** Stratified (per-language) deterministic downsampling. */
  def sampleStratifiedQ(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedSample(
      t(s, d, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", stratRates.toMap, default = 0.1)
      .orderBy("doc_id")

  /** Training-data SOURCE MIXING: re-weight the corpus's per-source
    * proportions (up-weight curated sources, down-sample the crawl) as a
    * deterministic hash-fraction filter — the same machinery as
    * stratified sampling keyed by `source`, so the mixture is
    * reproducible across runs, engines, and resumptions, and the whole
    * pass stays a scan-level projection+filter (no shuffle).
    */
  private val mixRates = Seq("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5)
  def mixSourcesQ(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedSample(
      t(s, d, "documents").select(col("doc_id"), col("source")),
      "doc_id", "source", mixRates.toMap, default = 0.25)
      .orderBy("doc_id")

  /** Frame sampling over the documents-as-blobs fixture: one row per
    * sampled frame with the frame's own hash and byte length (the ASCII
    * fixture makes the byte windows SQL-replayable in text space).
    */
  def multimodalFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("media_id"),
          col("text").cast("binary").as("blob")))
      .select(col("media_id"), col("frame_idx"),
        substring(md5(col("frame")), 1, 16).as("frame_hash"),
        length(col("frame")).cast("long").as("n_frame_bytes"))
      .orderBy("media_id", "frame_idx")

  def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.withMeta(
      t(s, d, "documents").select(col("doc_id"), col("text").cast("binary").as("blob")),
      "doc_id", "blob")
      .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.content_hash").as("content_hash"),
        col("meta.format").as("format"))
      .orderBy("media_id")

  /** Token-count distribution per detected language — the token-length
    * percentile report a training-data pipeline runs before sizing
    * batches. EXACT interpolated percentiles (Spark `percentile`, the
    * same type-7 interpolation as SQL `quantile_cont`) rather than a
    * sketch, so the oracle matches bit-for-bit; Spark computes it
    * distributively with a per-group map-side merge.
    */
  def tokenPercentiles(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(TextAnalysis.langId(col("text")).as("lang"),
        TextFunctions.approxTokenCount(col("text")).as("tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(tokens, 0.5)"), 4).as("p50"),
        round(expr("percentile(tokens, 0.9)"), 4).as("p90"),
        round(expr("percentile(tokens, 0.99)"), 4).as("p99"))
      .orderBy("lang")

  /** Salted two-stage aggregation produces exactly the plain groupBy
    * result (the oracle is the unsalted SQL) while spreading hot keys
    * over many reducers.
    */
  def skewSaltedAgg(s: SparkSession, d: String): DataFrame =
    graft.ext.Skew.saltedCount(t(s, d, "lineitem"), Seq("l_returnflag"))
      .orderBy("l_returnflag")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_salted_agg" -> (skewSaltedAgg(_, _)),
    "minhash_signature" -> (minhashSignature(_, _)),
    "near_dup_pairs" -> (nearDupPairs(_, _)),
    "ngram_jaccard" -> (ngramJaccard(_, _)),
    "simhash_text" -> (simhashText(_, _)),
    "simhash_near_dup" -> (simhashNearDupQ(_, _)),
    "stream_near_dup_replay" -> (streamNearDupReplay(_, _)),
    "stream_minhash_probe_replay" -> (streamMinHashProbeReplay(_, _)),
    "stream_dedup_index_replay" -> (streamDedupIndexReplay(_, _)),
    "stream_embed_probe_replay" -> (streamEmbedProbeReplay(_, _)),
    "status_stream_replay" -> (statusStreamReplay(_, _)),
    "embed_near_dup" -> (embedNearDupQ(_, _)),
    "embed_near_dup_t2" -> (embedNearDupT2Q(_, _)),
    "ann_knn_join" -> (annKnnJoinQ(_, _)),
    "ivf_search_many" -> (ivfSearchManyQ(_, _)),
    "ivf_search_many_np1" -> (ivfSearchManyNp1Q(_, _)),
    "rolling_fingerprint" -> (rollingFingerprint(_, _)),
    "lang_id" -> (langId(_, _)),
    "token_percentiles" -> (tokenPercentiles(_, _)),
    "text_quality" -> (textQuality(_, _)),
    "pii_scrub" -> (piiScrub(_, _)),
    "ingest_pipeline" -> (ingestPipelineQ(_, _)),
    "ingest_corpus_replay" -> (ingestCorpusReplay(_, _)),
    "neardup_corpus_replay" -> (nearDupCorpusReplay(_, _)),
    "neardup_embed_corpus_replay" -> (nearDupEmbedCorpusReplay(_, _)),
    "train_ingest_replay" -> (trainIngestReplay(_, _)),
    "train_ingest_committed_replay" -> (trainIngestCommittedReplay(_, _)),
    "train_ingest_stats_replay" -> (trainIngestStatsReplay(_, _)),
    "corpus_stats_replay" -> (corpusStatsReplay(_, _)),
    "vector_store_search" -> (vectorStoreSearch(_, _)),
    "vector_store_retrain" -> (vectorStoreRetrainQ(_, _)),
    "vector_store_search_q8" -> (vectorStoreSearchQ8(_, _)),
    "vector_store_search_pq" -> (vectorStoreSearchPq(_, _)),
    "pq_codebooks" -> (pqCodebooks(_, _)),
    "vector_store_search_many" -> (vectorStoreSearchMany(_, _)),
    "decontaminate_flag" -> (decontaminateFlag(_, _)),
    "quality_filter" -> (qualityFilterQ(_, _)),
    "quality_report" -> (qualityReportQ(_, _)),
    "repetition_signals" -> (repetitionSignals(_, _)),
    "top_ngrams" -> (topNgramsQ(_, _)),
    "approx_corpus_stats" -> (approxStatsQ(_, _)),
    "asof_join" -> (asofJoinQ(_, _)),
    "range_join" -> (rangeJoinQ(_, _)),
    "range_overlap" -> (rangeOverlapQ(_, _)),
    "manifest_corpus_replay" -> (manifestCorpusReplay(_, _)),
    "manifest_skipping" -> (manifestSkippingQ(_, _)),
    "manifest_bloom_skipping" -> (manifestBloomSkippingQ(_, _)),
    "manifest_time_travel" -> (manifestTimeTravelQ(_, _)),
    "manifest_scan_pruned" -> (manifestScanPrunedQ(_, _)),
    "manifest_partition_pruned" -> (manifestPartitionPrunedQ(_, _)),
    "manifest_sql_ddl" -> (manifestSqlDdlQ(_, _)),
    "manifest_sql_update" -> (manifestSqlUpdateQ(_, _)),
    "manifest_sql_merge" -> (manifestSqlMergeQ(_, _)),
    "manifest_sql_merge_partial" -> (manifestSqlMergePartialQ(_, _)),
    "manifest_sql_merge_cond" -> (manifestSqlMergeCondQ(_, _)),
    "manifest_sql_merge_on_expr" -> (manifestSqlMergeOnExprQ(_, _)),
    "manifest_sql_merge_evolve" -> (manifestSqlMergeEvolveQ(_, _)),
    "manifest_sql_delete_in_subquery" -> (manifestSqlDeleteInSubqueryQ(_, _)),
    "manifest_sql_delete_exists" -> (manifestSqlDeleteExistsQ(_, _)),
    "manifest_sql_delete_in_multi" -> (manifestSqlDeleteInMultiQ(_, _)),
    "manifest_struct_update" -> (manifestStructUpdateQ(_, _)),
    "manifest_sql_add_default" -> (manifestSqlAddDefaultQ(_, _)),
    "manifest_sql_generated" -> (manifestSqlGeneratedQ(_, _)),
    "manifest_sql_identity" -> (manifestSqlIdentityQ(_, _)),
    "manifest_sql_update_corr_set" -> (manifestSqlUpdateCorrSetQ(_, _)),
    "manifest_sql_merge_subquery" -> (manifestSqlMergeSubqueryQ(_, _)),
    "manifest_sql_merge_theta" -> (manifestSqlMergeThetaQ(_, _)),
    "manifest_sql_delete_not_in" -> (manifestSqlDeleteNotInQ(_, _)),
    "manifest_sql_generated_pruning" ->
      (manifestSqlGeneratedPruningQ(_, _)),
    "manifest_sql_clone" -> (manifestSqlCloneQ(_, _)),
    "manifest_sql_where_scalar" -> (manifestSqlWhereScalarQ(_, _)),
    "manifest_sql_rename_column" -> (manifestSqlRenameColumnQ(_, _)),
    "manifest_sql_widen_type" -> (manifestSqlWidenTypeQ(_, _)),
    "manifest_sql_replace" -> (manifestSqlReplaceQ(_, _)),
    "manifest_sql_maintenance" -> (manifestSqlMaintenanceQ(_, _)),
    "manifest_sql_meta" -> (manifestSqlMetaQ(_, _)),
    "manifest_table_stream_replay" -> (manifestTableStreamQ(_, _)),
    "manifest_sql_tag" -> (manifestSqlTagQ(_, _)),
    "manifest_sql_merge_delete" -> (manifestSqlMergeDeleteQ(_, _)),
    "manifest_scan_dv" -> (manifestScanDvQ(_, _)),
    "manifest_delete" -> (manifestDeleteQ(_, _)),
    "manifest_delete_meta" -> (manifestDeleteMetaQ(_, _)),
    "manifest_overwrite" -> (manifestOverwriteQ(_, _)),
    "manifest_delete_dv" -> (manifestDeleteDvQ(_, _)),
    "manifest_dv_compact" -> (manifestDvCompactQ(_, _)),
    "manifest_update" -> (manifestUpdateQ(_, _)),
    "manifest_update_dv" -> (manifestUpdateDvQ(_, _)),
    "manifest_count_meta" -> (manifestCountMetaQ(_, _)),
    "manifest_meta_minmax" -> (manifestMetaMinMaxQ(_, _)),
    "manifest_merge" -> (manifestMergeQ(_, _)),
    "manifest_changefeed" -> (manifestChangeFeedQ(_, _)),
    "manifest_feed_insert_merge" -> (manifestFeedInsertMergeQ(_, _)),
    "manifest_stream_replay" -> (manifestStreamReplayQ(_, _)),
    "manifest_sink_replay" -> (manifestSinkReplayQ(_, _)),
    "manifest_table_stream_sink_replay" ->
      (manifestTableStreamSinkReplayQ(_, _)),
    "manifest_restore" -> (manifestRestoreQ(_, _)),
    "manifest_compact_small" -> (manifestCompactSmallQ(_, _)),
    "manifest_cdf" -> (manifestCdfQ(_, _)),
    "manifest_table_cdf_batch" -> (manifestTableCdfBatchQ(_, _)),
    "manifest_cdf_stream_replay" -> (manifestCdfStreamReplayQ(_, _)),
    "manifest_cdf_dv" -> (manifestCdfDvQ(_, _)),
    "manifest_cdf_dv_stream_replay" -> (manifestCdfDvStreamReplayQ(_, _)),
    "manifest_restore_cdf" -> (manifestRestoreCdfQ(_, _)),
    "manifest_restore_cdf_stream_replay" -> (manifestRestoreCdfStreamQ(_, _)),
    "manifest_schema_evolution" -> (manifestSchemaEvolutionQ(_, _)),
    "manifest_partition_evolution" -> (manifestPartitionEvolutionQ(_, _)),
    "compact_roundtrip" -> (compactRoundtrip(_, _)),
    "chunk_windows" -> (chunkWindowsQ(_, _)),
    "embed_cosine" -> (embedCosine(_, _)),
    "embed_topk" -> (embedTopK(_, _)),
    "embed_lsh_buckets" -> (embedLshBuckets(_, _)),
    "ann_bucketed" -> (annBucketed(_, _)),
    "ivf_assign" -> (ivfAssignQ(_, _)),
    "ivf_search" -> (ivfSearchQ(_, _)),
    "ivf_search_nprobe2" -> (ivfSearchNprobe2(_, _)),
    "ivf_kmeans_centroids" -> (ivfKmeansCentroids(_, _)),
    "ivf_kmeans_assign" -> (ivfKmeansAssign(_, _)),
    "near_dup_components" -> (nearDupComponents(_, _)),
    "dedup_near_keep" -> (dedupNearKeep(_, _)),
    "multimodal_meta" -> (multimodalMeta(_, _)),
    "multimodal_frames" -> (multimodalFrames(_, _)),
    "sample_split" -> (sampleSplitQ(_, _)),
    "sample_stratified" -> (sampleStratifiedQ(_, _)),
    "mix_sources" -> (mixSourcesQ(_, _)))

  // ------------------------------------------------- oracle SQL builders

  /** DuckDB: 60-bit portable hash of `<seed>:<expr>`. */
  private def h60(seed: String, e: String): String =
    s"CAST(('0x' || substring(md5($seed || ':' || $e), 1, 15)) AS BIGINT)"

  /** DuckDB: distinct k-shingle list of a text expression. */
  private def shinglesSql(e: String, k: Int = 5): String =
    s"list_distinct([substring($e, i, $k) for i in range(1, greatest(length($e) - ${k - 1}, 1) + 1)])"

  /** DuckDB: distinct word n-gram list over a `toks` list binding. */
  private def wordShinglesSql(toks: String, n: Int = 3): String =
    s"list_distinct([array_to_string($toks[i:i+${n - 1}], ' ') for i in range(1, greatest(len($toks) - ${n - 1}, 1) + 1)])"

  /** DuckDB: the typed CDC log of the five-version manifest fold —
    * shared by `manifest_cdf` (batch feed) and
    * `manifest_cdf_stream_replay` (streaming source): one oracle, two
    * consumption paths.
    */
  private val cdfOracleSql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
      |cur4 AS (
      |  SELECT doc_id, lang,
      |    CAST(CASE WHEN lang = 'de' THEN n_chars + 7 ELSE n_chars END
      |      AS BIGINT) AS n_chars
      |  FROM d WHERE NOT (doc_id >= 100 AND doc_id < 150)),
      |src AS (
      |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars
      |  FROM d WHERE doc_id >= 200 AND doc_id < 220
      |  UNION ALL
      |  SELECT CAST(doc_id + 1000000 AS BIGINT), lang, n_chars
      |  FROM d WHERE doc_id % 31 = 0)
      |SELECT doc_id, lang, n_chars, _change_type, commit_version FROM (
      |  SELECT doc_id, lang, n_chars, 'insert' AS _change_type,
      |    CAST(1 AS BIGINT) AS commit_version FROM d
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'delete', 3 FROM d
      |  WHERE doc_id >= 100 AND doc_id < 150
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 4 FROM d
      |  WHERE lang = 'de' AND NOT (doc_id >= 100 AND doc_id < 150)
      |  UNION ALL
      |  SELECT doc_id, lang, CAST(n_chars + 7 AS BIGINT),
      |    'update_postimage', 4 FROM d
      |  WHERE lang = 'de' AND NOT (doc_id >= 100 AND doc_id < 150)
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 5 FROM cur4
      |  WHERE doc_id >= 200 AND doc_id < 220
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_postimage', 5 FROM src
      |  WHERE doc_id >= 200 AND doc_id < 220
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'insert', 5 FROM src
      |  WHERE doc_id >= 1000000)
      |ORDER BY commit_version, _change_type, doc_id""".stripMargin

  /** DuckDB: the CDC log of the merge-on-read fold — insert at v1,
    * DV-delete band at v3 (v4's zero-match delete contributes nothing),
    * DV-update pre/postimages at v5. Shared by `manifest_cdf_dv` and
    * `manifest_cdf_dv_stream_replay`.
    */
  private val cdfDvOracleSql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT doc_id, lang, n_chars, _change_type, commit_version FROM (
      |  SELECT doc_id, lang, n_chars, 'insert' AS _change_type,
      |    CAST(1 AS BIGINT) AS commit_version FROM d
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'delete', 3 FROM d
      |  WHERE doc_id >= 100 AND doc_id < 220
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 5 FROM d
      |  WHERE lang = 'de' AND NOT (doc_id >= 100 AND doc_id < 220)
      |  UNION ALL
      |  SELECT doc_id, lang, CAST(n_chars + 7 AS BIGINT),
      |    'update_postimage', 5 FROM d
      |  WHERE lang = 'de' AND NOT (doc_id >= 100 AND doc_id < 220))
      |ORDER BY commit_version, _change_type, doc_id""".stripMargin

  /** DuckDB: insert (v1) → DV band delete (v3) → restore rewind whose
    * synthesized diff re-inserts exactly the deleted band (v4).
    */
  private val restoreCdfOracleSql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT doc_id, lang, n_chars, _change_type, commit_version FROM (
      |  SELECT doc_id, lang, n_chars, 'insert' AS _change_type,
      |    CAST(1 AS BIGINT) AS commit_version FROM d
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'delete', 3 FROM d
      |  WHERE doc_id >= 100 AND doc_id < 220
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'insert', 4 FROM d
      |  WHERE doc_id >= 100 AND doc_id < 220)
      |ORDER BY commit_version, _change_type, doc_id""".stripMargin

  /** DuckDB: the planted 2-level near-dup corpus (doc + drop-8 mutation). */
  private def twoLevelDocsSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id + 100000 AS BIGINT), substring(text, 1, greatest(length(text) - 8, 0))
      |  FROM documents""".stripMargin

  /** DuckDB: the 3-level corpus (adds a drop-16 mutation → 3-cliques). */
  private def threeLevelDocsSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id + 100000 AS BIGINT), substring(text, 1, greatest(length(text) - 8, 0))
      |  FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id + 200000 AS BIGINT), substring(text, 1, length(text) - 16)
      |  FROM documents""".stripMargin

  /** DuckDB: the full near-dup CTE chain over a docs query — shingles,
    * 16-hash signature, 4-row bands, bucket-join candidates, exact
    * Jaccard — ending in `<pfx>pairs(a, b, j)` at threshold 0.6. Mirrors
    * MinHashLSH.nearDupPairs exactly. The `pfx` lets one statement
    * instantiate the chain per micro-batch (the `neardup_corpus_replay`
    * fold); bands carry the signature `g` so a cross-batch probe can
    * compute the MinHash estimate from two chains' band rows.
    */
  private def nearDupCtes(docsSql: String, pfx: String = ""): String = {
    val bandHash = "md5(" + (1 to 4).map(r => s"CAST(g[b.band * 4 + $r] AS VARCHAR)")
      .mkString(" || '-' || ") + ")"
    s"""${pfx}docs AS (
       |  $docsSql),
       |${pfx}tok_t AS (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM ${pfx}docs),
       |${pfx}sh_t AS (SELECT id, ${wordShinglesSql("toks", 3)} AS sh FROM ${pfx}tok_t),
       |${pfx}sig_t AS (SELECT id, ${sigSql("sh", 16)} AS g FROM ${pfx}sh_t),
       |${pfx}bands AS (
       |  SELECT id, g, b.band, $bandHash AS bh
       |  FROM ${pfx}sig_t, (SELECT unnest(range(0, 4)) AS band) b),
       |${pfx}cand AS (
       |  SELECT DISTINCT l.id AS a, r.id AS b
       |  FROM ${pfx}bands l JOIN ${pfx}bands r ON l.band = r.band AND l.bh = r.bh
       |    AND l.id < r.id),
       |${pfx}jac AS (
       |  SELECT c.a, c.b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS j
       |  FROM ${pfx}cand c JOIN ${pfx}sh_t sa ON sa.id = c.a JOIN ${pfx}sh_t sb ON sb.id = c.b),
       |${pfx}pairs AS (SELECT a, b, j FROM ${pfx}jac WHERE j >= 0.6)""".stripMargin
  }

  /** DuckDB: min-label connected components + keep-one over a prefixed
    * pair CTE — `<pfx>keep` is the batch's within-batch near-dup
    * survivors (min-id representative per component plus every unpaired
    * row of `<pfx>docs`, all columns), mirroring
    * Components.nearDupKeep / the components-over-embedNearDup keep.
    * Expects `<pfx>pairs(a, b, …)` and `<pfx>docs(id, …)` to exist.
    */
  private def nearDupKeepCtes(pfx: String): String =
    s"""${pfx}und AS (SELECT a AS x, b AS y FROM ${pfx}pairs
       |        UNION SELECT b, a FROM ${pfx}pairs),
       |${pfx}reach AS (
       |  SELECT x, y FROM ${pfx}und
       |  UNION
       |  SELECT r.x, u.y FROM ${pfx}reach r JOIN ${pfx}und u ON r.y = u.x),
       |${pfx}comp AS (SELECT x AS id, least(x, MIN(y)) AS rep
       |  FROM ${pfx}reach GROUP BY x),
       |${pfx}keep AS (SELECT d.* FROM ${pfx}docs d
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM ${pfx}comp c WHERE c.id = d.id AND c.rep <> c.id))""".stripMargin

  /** DuckDB: n-hash minhash signature (list) over shingle list `sh` —
    * one 28-bit md5 base hash per shingle, then the universal-hash
    * permutations (a_i·h + b_i) mod P, mirroring MinHashLSH exactly.
    */
  private def sigSql(sh: String, n: Int = 8): String = {
    val hb = s"list_transform($sh, s -> CAST(('0x' || substring(md5(s), 1, 7)) AS BIGINT))"
    "[" + (0 until n).map(i =>
      s"list_min(list_transform($hb, h -> (h * ${MinHashLSH.aCoef(i)} + ${MinHashLSH.bCoef(i)}) % ${MinHashLSH.HashP}))"
    ).mkString(", ") + "]"
  }

  private def dfold(items: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $items), (a, b) -> a + b)"

  /** DuckDB: left-to-right double dot product of two 64-dim list exprs. */
  private def dotSql(a: String, b: String): String =
    dfold(s"[CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, 65)]")

  private def cosSql(e: String, q: String): String =
    s"(${dotSql(e, q)} / (sqrt(${dotSql(e, e)}) * sqrt(${dotSql(q, q)})))"

  /** DuckDB: left-to-right squared L2 of two 64-dim list exprs. */
  private def l2Sql(a: String, b: String): String =
    dfold(s"[(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) for i in range(1, 65)]")

  /** DuckDB replay of [[Similarity.ivfSearchMany]] at a given nprobe —
    * shared by the `ivf_search_many` / `ivf_search_many_np1` dial pair.
    */
  private def ivfSearchManySql(nprobe: Int): String =
    s"""WITH ${ivfAssignSql(16)},
       |q AS (SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS q_vec
       |  FROM embeddings WHERE vec_id % 100 = 7),
       |qc AS (SELECT qid, q_vec, cid,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY ${l2Sql("q_vec", "c.cv")}, cid) AS crn
       |  FROM q, c),
       |probe AS (SELECT qid, q_vec, cid AS centroid_id FROM qc WHERE crn <= $nprobe),
       |pairs AS (SELECT p.qid, e.vec_id,
       |  ${cosSql("e.embedding", "p.q_vec")} AS cos
       |  FROM probe p JOIN assign a ON p.centroid_id = a.centroid_id
       |  JOIN embeddings e ON a.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.qid),
       |rk AS (SELECT qid, vec_id, cos,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |  FROM pairs)
       |SELECT qid, CAST(rn AS BIGINT) AS nn_rank,
       |  CAST(vec_id AS BIGINT) AS nn_id, ROUND(cos, 4) AS cos4
       |FROM rk WHERE rn <= 3 ORDER BY qid, nn_rank""".stripMargin

  /** DuckDB: the IVF assignment CTE chain (centroids = vec_id < k). */
  private def ivfAssignSql(k: Int = 16): String =
    s"""c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $k),
       |d AS (SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist2
       |  FROM embeddings e, c),
       |r AS (SELECT vec_id, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d),
       |assign AS (SELECT vec_id, cid AS centroid_id FROM r WHERE rn = 1)""".stripMargin

  /** DuckDB: unrolled Lloyd iterations replaying Similarity.kmeansCentroids
    * (init = first k vectors rounded to 4 dp; per round: argmin assign,
    * then per-(cid, dim) mean rounded to 4 dp). Yields CTEs `km_m<iters>`
    * (cid, pos, m) and `km_c<iters>` (cid, cv).
    */
  private def kmeansSql(k: Int, iters: Int,
                        from: String = "embeddings"): String = {
    val init =
      s"""km_c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid,
         |  [round(CAST(x AS DOUBLE), 4) + 0 for x in embedding] AS cv
         |  FROM $from WHERE vec_id < $k)""".stripMargin
    val rounds = (1 to iters).map { it =>
      val prev = s"km_c${it - 1}"
      s"""km_d$it AS (SELECT e.vec_id, e.embedding, c.cid,
         |  ${l2Sql("e.embedding", "c.cv")} AS dist2 FROM $from e, $prev c),
         |km_a$it AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT vec_id, embedding, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |  FROM km_d$it) WHERE rn = 1),
         |km_m$it AS (SELECT cid, i - 1 AS pos,
         |  round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0 AS m
         |  FROM km_a$it, range(1, 65) t(i) GROUP BY cid, i),
         |km_c$it AS (SELECT cid, list(m ORDER BY pos) AS cv
         |  FROM km_m$it GROUP BY cid)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** DuckDB: left-to-right double dot of a `dsub`-dim WINDOW of list `v`
    * starting after `off` elements (SQL expression) against list `b`.
    */
  private def dotOffSql(v: String, off: String, b: String, dsub: Int): String =
    dfold(s"[CAST($v[$off + j] AS DOUBLE) * CAST($b[j] AS DOUBLE) for j in range(1, ${dsub + 1})]")

  /** DuckDB: left-to-right squared L2 of the same windowed pair. */
  private def l2OffSql(v: String, off: String, b: String, dsub: Int): String =
    dfold(s"[(CAST($v[$off + j] AS DOUBLE) - CAST($b[j] AS DOUBLE)) * (CAST($v[$off + j] AS DOUBLE) - CAST($b[j] AS DOUBLE)) for j in range(1, ${dsub + 1})]")

  /** DuckDB: unrolled per-subspace Lloyd iterations replaying
    * [[graft.ext.Similarity.pqTrain]] — m subspaces of 64/m dims trained
    * together (the `kmeansSql` chain with a `sub` key). Seed = the ksub
    * lowest-id vectors' subvectors, cid re-keyed dense by id rank;
    * yields CTEs `pq_m<iters>` (sub, cid, pos, mval) and `pq_c<iters>`
    * (sub, cid, cv).
    */
  private def pqSql(m: Int = 8, ksub: Int = 16, iters: Int = 2): String = {
    val dsub = 64 / m
    val init =
      s"""pq_seed AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS cid
         |  FROM (SELECT CAST(vec_id AS BIGINT) AS id FROM embeddings
         |    ORDER BY vec_id LIMIT $ksub)),
         |pq_c0 AS (SELECT ss.sub, sd.cid,
         |  [round(CAST(e.embedding[ss.sub * $dsub + j] AS DOUBLE), 4) + 0
         |   for j in range(1, ${dsub + 1})] AS cv
         |  FROM embeddings e JOIN pq_seed sd ON CAST(e.vec_id AS BIGINT) = sd.id
         |  CROSS JOIN range(0, $m) ss(sub))""".stripMargin
    val rounds = (1 to iters).map { it =>
      val prev = s"pq_c${it - 1}"
      s"""pq_d$it AS (SELECT e.vec_id, c.sub, c.cid,
         |  ${l2OffSql("e.embedding", s"c.sub * $dsub", "c.cv", dsub)} AS dist2
         |  FROM embeddings e CROSS JOIN $prev c),
         |pq_a$it AS (SELECT vec_id, sub, cid FROM (
         |  SELECT vec_id, sub, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist2, cid) AS rn
         |  FROM pq_d$it) WHERE rn = 1),
         |pq_m$it AS (SELECT a.sub, a.cid, j - 1 AS pos,
         |  round(avg(CAST(e.embedding[a.sub * $dsub + j] AS DOUBLE)), 4) + 0 AS mval
         |  FROM pq_a$it a JOIN embeddings e ON e.vec_id = a.vec_id
         |  CROSS JOIN range(1, ${dsub + 1}) t(j)
         |  GROUP BY a.sub, a.cid, j),
         |pq_c$it AS (SELECT sub, cid, list(mval ORDER BY pos) AS cv
         |  FROM pq_m$it GROUP BY sub, cid)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** DuckDB: hyperplane-LSH bucket of a 64-dim embedding expression
    * (`off` = plane-family offset; table t of a multi-table index uses
    * off = t*bits, mirroring Similarity.bucket's planeOffset).
    */
  private def bucketSql(v: String, bits: Int = 6, off: Int = 0): String =
    (0 until bits).map { i =>
      val prods = s"[CAST($v[j + 1] AS DOUBLE) * CAST(((j * 2654435761 + ${off + i} * 40503) % 1009 - 504) AS DOUBLE) for j in range(0, 64)]"
      s"(CASE WHEN ${dfold(prods)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val wordsSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** DuckDB: the 32-bit SimHash bit-vote sum over an `hs` hash list. */
  private def simhashBitsSql: String =
    (0 until 32).map { j =>
      val votes = s"list_transform(hs, h -> ((h >> $j) & 1) * 2 - 1)"
      s"(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), $votes), (a, b) -> a + b) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB: the planted near-dup vector corpus (double cast + one
    * literal multiply-add perturbation — mirrors plantedVecs exactly).
    */
  /** DuckDB: the planted-PII corpus (mirrors plantedPiiDocs exactly). */
  private def plantedPiiSql: String =
    """SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |  '@example.com or +1 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') ||
      |  ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
      |  FROM documents""".stripMargin

  /** DuckDB: the TextAnalysis.scrubPii chain over a text expression. */
  private def scrubSql(e: String): String = {
    import graft.ext.TextAnalysis.{piiEmailRe, piiIpRe, piiPhoneRe}
    s"""regexp_replace(regexp_replace(regexp_replace($e,
       |    '$piiEmailRe', '<EMAIL>', 'g'),
       |    '$piiIpRe', '<IP>', 'g'),
       |    '$piiPhoneRe', '<PHONE>', 'g')""".stripMargin
  }

  /** DuckDB: the QualityFilter.defaultRules audit over documents — the
    * same 4-decimal-rounded signals as the text_quality oracle, the same
    * fixed rule order, concat_ws skipping un-failed rules exactly like
    * the Spark side.
    */
  private def qualityAuditCte(src: String = "documents"): String = {
    val stopList = TextFunctions.stopwords.map(w => s"'$w'").mkString(", ")
    s"""sig AS (SELECT doc_id, text,
       |  len(string_split_regex(trim(text), '\\s+')) AS wc,
       |  ROUND(CAST(len(list_filter($wordsSql, w -> w IN ($stopList))) AS DOUBLE)
       |    / len($wordsSql), 4) AS sr,
       |  ROUND(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |    / greatest(length(text), 1), 4) AS pr,
       |  ROUND(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(trim(text), '\\s+'),
       |        w -> CAST(length(w) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
       |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS mw
       |  FROM $src),
       |audit AS (SELECT doc_id, concat_ws(',',
       |  CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 'empty' END,
       |  CASE WHEN wc < 20 THEN 'too_short' END,
       |  CASE WHEN wc > 100000 THEN 'too_long' END,
       |  CASE WHEN sr < 0.04 THEN 'stopword_ratio_low' END,
       |  CASE WHEN pr > 0.2 THEN 'punct_ratio_high' END,
       |  CASE WHEN mw < 2.5 OR mw > 5.0 THEN 'mean_word_len_out' END)
       |  AS drop_reasons FROM sig)""".stripMargin
  }

  private def plantedVecsSql: String =
    """SELECT CAST(vec_id AS BIGINT) AS id,
      |  [CAST(embedding[i] AS DOUBLE) for i in range(1, 65)] AS v FROM embeddings
      |  UNION ALL
      |  SELECT CAST(vec_id + 100000 AS BIGINT),
      |  [CAST(embedding[j + 1] AS DOUBLE) + 0.01 * CAST((j % 3) - 1 AS DOUBLE)
      |   for j in range(0, 64)]
      |  FROM embeddings""".stripMargin

  private def langScoreSql(words: Seq[String]): String =
    s"len(list_filter($wordsSql, w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** The sequential DuckDB replay of [[trainIngestReplay]]'s complete
    * 2-batch fold, as the shared CTE chain up to `hits` (batch-1 keepers
    * flagged near-dup against batch-0 survivors): exact-stage window
    * rank, quality audit, scrub, per-batch near-dup keep, cross-batch
    * banded probe. Consumers append their own final SELECT over
    * qkeep/wkeep/hits — the corpus rows (train_ingest_replay) or the
    * per-language stats (train_ingest_stats_replay).
    */
  private def trainIngestChainSql: String = {
    val firstBand = (0 until 4).foldRight("4") { (b, rest) =>
      s"(CASE WHEN pg[${b * 4 + 1}:${b * 4 + 4}] = cg[${b * 4 + 1}:${b * 4 + 4}] THEN $b ELSE $rest END)"
    }
    val est = "CAST(len([i for i in range(1, 17) if pg[i] = cg[i]]) AS DOUBLE) / 16.0"
    s"""planted_all AS ($plantedPiiSql),
       |planted AS (SELECT * FROM planted_all WHERE doc_id < 200),
       |seeded AS (
       |  SELECT CAST(doc_id AS BIGINT) AS id, text,
       |    CAST(doc_id % 2 AS BIGINT) AS b FROM planted
       |  UNION ALL
       |  SELECT CAST(doc_id + 1000000 AS BIGINT), text,
       |    CAST((doc_id + 1) % 2 AS BIGINT)
       |  FROM planted WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT CAST(doc_id + 2000000 AS BIGINT),
       |    substring(text, 1, greatest(length(text) - 8, 0)),
       |    CAST((doc_id + 1) % 2 AS BIGINT)
       |  FROM planted WHERE doc_id % 9 = 0),
       |exact_surv AS (SELECT id, text, b FROM (
       |  SELECT id, text, b,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY b, id) AS rn
       |  FROM seeded) WHERE rn = 1),
       |exq AS (SELECT id AS doc_id, text, b FROM exact_surv),
       |${qualityAuditCte("exq")},
       |scr AS (SELECT e.doc_id AS id, ${scrubSql("e.text")} AS text, e.b
       |  FROM exq e JOIN audit a ON a.doc_id = e.doc_id
       |  WHERE a.drop_reasons = ''),
       |${nearDupCtes("SELECT id, text FROM scr WHERE b = 0", "q")},
       |${nearDupKeepCtes("q")},
       |${nearDupCtes("SELECT id, text FROM scr WHERE b = 1", "w")},
       |${nearDupKeepCtes("w")},
       |pb AS (SELECT bnd.id, bnd.g, bnd.band, bnd.bh
       |  FROM wbands bnd JOIN wkeep k ON bnd.id = k.id),
       |cb AS (SELECT bnd.id, bnd.g, bnd.band, bnd.bh
       |  FROM qbands bnd JOIN qkeep k ON bnd.id = k.id),
       |probe_cand AS (SELECT p.id AS probe_id, p.g AS pg, c.g AS cg
       |  FROM pb p JOIN cb c ON p.band = c.band AND p.bh = c.bh
       |  WHERE p.band = $firstBand),
       |hits AS (SELECT DISTINCT probe_id FROM probe_cand WHERE $est >= 0.5)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "skew_salted_agg" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "minhash_signature" -> {
      val sig = sigSql("sh")
      s"""WITH sh_t AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents)
         |SELECT doc_id, array_to_string($sig, '-') AS sig_str
         |FROM sh_t ORDER BY doc_id""".stripMargin
    },

    "near_dup_pairs" ->
      s"""WITH ${nearDupCtes(twoLevelDocsSql)}
         |SELECT a, b, ROUND(j, 4) AS jaccard FROM pairs
         |ORDER BY a, b""".stripMargin,

    "near_dup_components" ->
      s"""WITH RECURSIVE ${nearDupCtes(threeLevelDocsSql)},
         |und AS (SELECT a AS x, b AS y FROM pairs
         |        UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT x, y FROM und
         |  UNION
         |  SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x)
         |SELECT x AS id, least(x, MIN(y)) AS rep FROM reach
         |GROUP BY x ORDER BY id""".stripMargin,

    "dedup_near_keep" ->
      s"""WITH RECURSIVE ${nearDupCtes(threeLevelDocsSql)},
         |und AS (SELECT a AS x, b AS y FROM pairs
         |        UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT x, y FROM und
         |  UNION
         |  SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
         |comp AS (SELECT x AS id, least(x, MIN(y)) AS rep FROM reach GROUP BY x)
         |SELECT d.id FROM docs d
         |WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.id = d.id AND c.rep <> c.id)
         |ORDER BY d.id""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH sh_t AS (SELECT doc_id, ${shinglesSql("text")} AS sa,
         |  ${shinglesSql("substring(text, 1, greatest(length(text) - 8, 0))")} AS sb
         |  FROM documents)
         |SELECT doc_id, ROUND(
         |  CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE), 4) AS jaccard
         |FROM sh_t ORDER BY doc_id""".stripMargin,

    "simhash_text" ->
      s"""WITH hs_t AS (SELECT doc_id,
         |  list_transform($wordsSql, t -> ${h60("'0'", "t")}) AS hs
         |  FROM documents)
         |SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS simhash
         |FROM hs_t ORDER BY doc_id""".stripMargin,

    "simhash_near_dup" -> {
      val ham = (0 until 32)
        .map(j => s"((xor(sh_a, sh_b) >> $j) & 1)").mkString("(", " + ", ")")
      def slice(sh: String, b: Int) = s"(($sh >> ${8 * b}) & 255)"
      val firstBand = (0 until 4).foldRight("4") { (b, rest) =>
        s"(CASE WHEN ${slice("sh_a", b)} = ${slice("sh_b", b)} THEN $b ELSE $rest END)"
      }
      s"""WITH corpus AS ($twoLevelDocsSql),
         |hs_t AS (SELECT id,
         |  list_transform($wordsSql, t -> ${h60("'0'", "t")}) AS hs FROM corpus),
         |sh_t AS (SELECT id, CAST($simhashBitsSql AS BIGINT) AS sh FROM hs_t),
         |bands AS (SELECT id, sh, b, (sh >> CAST(8 * b AS INTEGER)) & 255 AS bval
         |  FROM sh_t, range(4) r(b)),
         |cand AS (SELECT x.id AS id_a, y.id AS id_b, x.sh AS sh_a, y.sh AS sh_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.bval = y.bval
         |    AND x.id < y.id WHERE x.b = $firstBand)
         |SELECT id_a, id_b, CAST($ham AS BIGINT) AS hamming
         |FROM cand WHERE $ham <= 3 ORDER BY id_a, id_b""".stripMargin
    },

    "stream_near_dup_replay" -> {
      val ham = (0 until 32)
        .map(j => s"((xor(sh_p, sh_c) >> $j) & 1)").mkString("(", " + ", ")")
      def slice(sh: String, b: Int) = s"(($sh >> ${8 * b}) & 255)"
      val firstBand = (0 until 4).foldRight("4") { (b, rest) =>
        s"(CASE WHEN ${slice("sh_p", b)} = ${slice("sh_c", b)} THEN $b ELSE $rest END)"
      }
      def shCtes(pfx: String, src: String) =
        s"""${pfx}hs AS (SELECT id,
           |  list_transform($wordsSql, t -> ${h60("'0'", "t")}) AS hs FROM $src),
           |${pfx}sh AS (SELECT id, CAST($simhashBitsSql AS BIGINT) AS sh FROM ${pfx}hs),
           |${pfx}b AS (SELECT id, sh, b, (sh >> CAST(8 * b AS INTEGER)) & 255 AS bval
           |  FROM ${pfx}sh, range(4) r(b))""".stripMargin
      s"""WITH corpus AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
         |probe AS (SELECT CAST(doc_id + 100000 AS BIGINT) AS id,
         |  substring(text, 1, greatest(length(text) - 8, 0)) AS text FROM documents),
         |${shCtes("c", "corpus")},
         |${shCtes("p", "probe")},
         |cand AS (SELECT p.id AS probe_id, c.id AS corpus_id,
         |    p.sh AS sh_p, c.sh AS sh_c
         |  FROM pb p JOIN cb c ON p.b = c.b AND p.bval = c.bval
         |  WHERE p.b = $firstBand)
         |SELECT probe_id, corpus_id, CAST($ham AS BIGINT) AS hamming
         |FROM cand WHERE $ham <= 3 ORDER BY probe_id, corpus_id""".stripMargin
    },

    "stream_minhash_probe_replay" -> {
      val bandHash = "md5(" + (1 to 4).map(r =>
        s"CAST(g[b.band * 4 + $r] AS VARCHAR)").mkString(" || '-' || ") + ")"
      def bandsFor(pfx: String) =
        s"""${pfx}tok AS (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM ${pfx}docs),
           |${pfx}sh AS (SELECT id, ${wordShinglesSql("toks", 3)} AS sh FROM ${pfx}tok),
           |${pfx}sig AS (SELECT id, ${sigSql("sh", 16)} AS g FROM ${pfx}sh),
           |${pfx}bands AS (SELECT id, g, b.band, $bandHash AS bh
           |  FROM ${pfx}sig, (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin
      val firstBand = (0 until 4).foldRight("4") { (b, rest) =>
        s"(CASE WHEN pg[${b * 4 + 1}:${b * 4 + 4}] = cg[${b * 4 + 1}:${b * 4 + 4}] THEN $b ELSE $rest END)"
      }
      s"""WITH pdocs AS (SELECT CAST(doc_id + 100000 AS BIGINT) AS id,
         |  substring(text, 1, greatest(length(text) - 8, 0)) AS text FROM documents),
         |cdocs AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
         |${bandsFor("p")},
         |${bandsFor("c")},
         |cand AS (SELECT p.id AS probe_id, c.id AS corpus_id,
         |    p.g AS pg, c.g AS cg
         |  FROM pbands p JOIN cbands c ON p.band = c.band AND p.bh = c.bh
         |  WHERE p.band = $firstBand)
         |SELECT probe_id, corpus_id,
         |  CAST(len([i for i in range(1, 17) if pg[i] = cg[i]]) AS DOUBLE) / 16.0
         |    AS est_jaccard
         |FROM cand
         |WHERE CAST(len([i for i in range(1, 17) if pg[i] = cg[i]]) AS DOUBLE) / 16.0 >= 0.5
         |ORDER BY probe_id, corpus_id""".stripMargin
    },

    // NOT EXISTS, not NOT IN: a single NULL text in the corpus would make
    // NOT IN return zero rows, while Spark's left_anti keeps every
    // non-matching row — NOT EXISTS has exactly the anti-join's semantics
    "stream_dedup_index_replay" ->
      """SELECT d.doc_id, d.text FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 2 = 0 AND md5(c.text) = md5(d.text))
        |ORDER BY doc_id""".stripMargin,

    // probe × corpus hyperplane-bucket join in two plane families,
    // first-agreeing-table dedup, exact-cosine verify — the replay of
    // StreamNearDup.probeEmbed over the planted perturbation probes
    "stream_embed_probe_replay" ->
      s"""WITH corpus AS (SELECT CAST(vec_id AS BIGINT) AS id,
         |  [CAST(embedding[i] AS DOUBLE) for i in range(1, 65)] AS v
         |  FROM embeddings),
         |probes AS (SELECT CAST(vec_id + 100000 AS BIGINT) AS id,
         |  [CAST(embedding[j + 1] AS DOUBLE) + 0.01 * CAST((j % 3) - 1 AS DOUBLE)
         |   for j in range(0, 64)] AS v
         |  FROM embeddings),
         |cb AS (SELECT id, v, [${bucketSql("v")}, ${bucketSql("v", off = 6)}] AS bks
         |  FROM corpus),
         |pb AS (SELECT id, v, [${bucketSql("v")}, ${bucketSql("v", off = 6)}] AS bks
         |  FROM probes),
         |cr AS (SELECT id, v, bks, t, bks[t + 1] AS bk FROM cb, range(2) r(t)),
         |pr AS (SELECT id, v, bks, t, bks[t + 1] AS bk FROM pb, range(2) r(t)),
         |p AS (SELECT x.id AS probe_id, y.id AS corpus_id,
         |    ${cosSql("x.v", "y.v")} AS cos
         |  FROM pr x JOIN cr y ON x.t = y.t AND x.bk = y.bk
         |  WHERE x.t = (CASE WHEN x.bks[1] = y.bks[1] THEN 0 ELSE
         |    (CASE WHEN x.bks[2] = y.bks[2] THEN 1 ELSE 2 END) END))
         |SELECT probe_id, corpus_id, ROUND(cos, 4) AS cos4 FROM p
         |WHERE cos >= 0.9 ORDER BY probe_id, corpus_id""".stripMargin,

    // recursive walk per job over the (ts, status)-sorted event sequence —
    // the same fold as StatusStream.updateJob: a terminal status absorbs,
    // an equal status or an older-than-since ts leaves the state alone,
    // anything else is a transition (ts is the unique event_id here, so
    // the older-than-since arm never fires in batch replay; kept for
    // fidelity with the streaming fold)
    "status_stream_replay" ->
      """WITH RECURSIVE base AS (
        |  SELECT job_id, status, ts,
        |    row_number() OVER (PARTITION BY job_id ORDER BY ts, status) AS rn
        |  FROM (
        |    SELECT 'job_' || CAST(user_id AS VARCHAR) AS job_id,
        |      CASE event_type
        |        WHEN 'signup' THEN 'submitted'
        |        WHEN 'click' THEN 'in_progress'
        |        WHEN 'purchase' THEN 'completed'
        |        WHEN 'error' THEN 'failed'
        |        ELSE 'unknown_' || event_type END AS status,
        |      CAST(event_id AS BIGINT) AS ts
        |    FROM events)),
        |walk(job_id, rn, status, since, transitions, terminal) AS (
        |  SELECT job_id, CAST(1 AS BIGINT), status, ts, 0,
        |    status IN ('completed', 'failed', 'download_failed')
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.job_id, b.rn,
        |    CASE WHEN w.terminal OR b.ts < w.since OR b.status = w.status
        |         THEN w.status ELSE b.status END,
        |    CASE WHEN w.terminal OR b.ts < w.since OR b.status = w.status
        |         THEN w.since ELSE b.ts END,
        |    CASE WHEN w.terminal OR b.ts < w.since OR b.status = w.status
        |         THEN w.transitions ELSE w.transitions + 1 END,
        |    CASE WHEN w.terminal THEN TRUE
        |         WHEN b.ts < w.since OR b.status = w.status THEN w.terminal
        |         ELSE b.status IN ('completed', 'failed', 'download_failed') END
        |  FROM walk w JOIN base b ON b.job_id = w.job_id AND b.rn = w.rn + 1)
        |SELECT w.job_id, w.status, w.since,
        |  CAST(w.transitions AS INT) AS transitions, w.terminal
        |FROM walk w
        |JOIN (SELECT job_id, MAX(rn) AS mrn FROM base GROUP BY job_id) last
        |  ON w.job_id = last.job_id AND w.rn = last.mrn
        |ORDER BY w.job_id""".stripMargin,

    "ivf_search_many" -> ivfSearchManySql(nprobe = 2),
    "ivf_search_many_np1" -> ivfSearchManySql(nprobe = 1),

    "ann_knn_join" ->
      s"""WITH ${ivfAssignSql(16)},
         |wc AS (SELECT a.vec_id AS id, e.embedding AS v, a.centroid_id
         |  FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id),
         |p AS (SELECT x.id AS id_a, y.id AS id_b, ${cosSql("x.v", "y.v")} AS cos
         |  FROM wc x JOIN wc y ON x.centroid_id = y.centroid_id AND x.id <> y.id),
         |rk AS (SELECT id_a, id_b, cos,
         |  row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn
         |  FROM p)
         |SELECT CAST(id_a AS BIGINT) AS vec_id, CAST(rn AS BIGINT) AS nn_rank,
         |  CAST(id_b AS BIGINT) AS nn_id, ROUND(cos, 4) AS cos4
         |FROM rk WHERE rn <= 4 ORDER BY vec_id, nn_rank""".stripMargin,

    "embed_near_dup" ->
      s"""WITH corpus AS ($plantedVecsSql),
         |wb AS (SELECT id, v, ${bucketSql("v")} AS bucket FROM corpus),
         |p AS (SELECT x.id AS id_a, y.id AS id_b, ${cosSql("x.v", "y.v")} AS cos
         |  FROM wb x JOIN wb y ON x.bucket = y.bucket AND x.id < y.id)
         |SELECT id_a, id_b, ROUND(cos, 4) AS cos4 FROM p WHERE cos >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    "embed_near_dup_t2" ->
      s"""WITH corpus AS ($plantedVecsSql),
         |wb AS (SELECT id, v,
         |  [${bucketSql("v")}, ${bucketSql("v", off = 6)}] AS bks FROM corpus),
         |brows AS (SELECT id, v, bks, t, bks[t + 1] AS bk
         |  FROM wb, range(2) r(t)),
         |p AS (SELECT x.id AS id_a, y.id AS id_b, ${cosSql("x.v", "y.v")} AS cos
         |  FROM brows x JOIN brows y ON x.t = y.t AND x.bk = y.bk
         |    AND x.id < y.id
         |  WHERE x.t = (CASE WHEN x.bks[1] = y.bks[1] THEN 0 ELSE
         |    (CASE WHEN x.bks[2] = y.bks[2] THEN 1 ELSE 2 END) END))
         |SELECT id_a, id_b, ROUND(cos, 4) AS cos4 FROM p WHERE cos >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    "rolling_fingerprint" ->
      s"""SELECT doc_id, substring(md5(text), 1, 16) AS fp,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % ${TextAnalysis.RollMod}) AS roll
         |FROM documents ORDER BY doc_id""".stripMargin,

    "lang_id" -> {
      val scores = TextAnalysis.langWords.map { case (l, ws) => l -> s"s_$l" }
      val defs = TextAnalysis.langWords
        .map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }.mkString(",\n  ")
      val cases = TextAnalysis.langWords.map { case (l, _) =>
        val geAll = scores.map { case (_, o) => s"s_$l >= $o" }.mkString(" AND ")
        s"WHEN s_$l > 0 AND $geAll THEN '$l'"
      }.mkString("\n  ")
      s"""WITH sc AS (SELECT doc_id,
         |  $defs
         |  FROM documents)
         |SELECT doc_id, CASE
         |  $cases
         |  ELSE 'unknown' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "token_percentiles" -> {
      val scores = TextAnalysis.langWords.map { case (l, _) => l -> s"s_$l" }
      val defs = TextAnalysis.langWords
        .map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }.mkString(",\n  ")
      val cases = TextAnalysis.langWords.map { case (l, _) =>
        val geAll = scores.map { case (_, o) => s"s_$l >= $o" }.mkString(" AND ")
        s"WHEN s_$l > 0 AND $geAll THEN '$l'"
      }.mkString("\n  ")
      s"""WITH sc AS (SELECT doc_id, text,
         |  $defs
         |  FROM documents),
         |lang_t AS (SELECT CASE
         |  $cases
         |  ELSE 'unknown' END AS lang,
         |  CASE WHEN LENGTH(text) = 0 THEN 0
         |    ELSE CEIL(LENGTH(text) / 4.0) END AS tokens
         |  FROM sc)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ROUND(quantile_cont(tokens, 0.5), 4) AS p50,
         |  ROUND(quantile_cont(tokens, 0.9), 4) AS p90,
         |  ROUND(quantile_cont(tokens, 0.99), 4) AS p99
         |FROM lang_t GROUP BY lang ORDER BY lang""".stripMargin
    },

    "text_quality" -> {
      val stopList = TextFunctions.stopwords.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |  ROUND(CAST(len(list_filter($wordsSql, w -> w IN ($stopList))) AS DOUBLE)
         |    / len($wordsSql), 4) AS stop_ratio,
         |  ROUND(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |    / greatest(length(text), 1), 4) AS punct_ratio,
         |  ROUND(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split_regex(trim(text), '\\s+'),
         |        w -> CAST(length(w) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
         |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4)
         |    AS mean_wlen
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "compact_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",

    // DuckDB's native ASOF LEFT JOIN (>= semantics) independently checks
    // the union+window encoding
    // DuckDB's native BETWEEN join is the independent implementation
    // the bucketized reduction is checked against
    "range_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    event_type FROM events WHERE ts IS NOT NULL),
        |iv AS (SELECT event_id AS interval_id, user_id, ts_us AS s_us,
        |    ts_us + 1800000000 AS e_us
        |  FROM ev WHERE event_type = 'purchase' AND user_id % 5 = 0)
        |SELECT iv.interval_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM ev JOIN iv ON ev.user_id = iv.user_id
        |  AND ev.ts_us BETWEEN iv.s_us AND iv.e_us
        |GROUP BY interval_id ORDER BY interval_id""".stripMargin,

    // effectively-once commits + atomic compaction must reconstruct
    // exactly the input table
    "manifest_corpus_replay" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",

    // the pruned readWhere must return exactly the full-scan answer
    "manifest_skipping" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id >= 100 AND doc_id < 220 AND lang <> 'de'
        |ORDER BY doc_id""".stripMargin,

    // the bloom-pruned point lookup must return exactly the full answer
    "manifest_bloom_skipping" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (42, 217, 401)
        |ORDER BY doc_id""".stripMargin,

    // the AS-OF-version-2 read is exactly batches b0+b1 (doc_id % 3 < 2),
    // untouched by the later compaction and append
    "manifest_time_travel" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 3 < 2
        |ORDER BY doc_id""".stripMargin,

    // the planner-pruned scan must return exactly the full-scan answer
    "manifest_scan_pruned" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id >= 100 AND doc_id < 220 AND lang <> 'de'
        |ORDER BY doc_id""".stripMargin,

    // the SQL DDL/DML cycle replayed: partition delete + re-insert of
    // the re-derived partition; everything else byte-identical
    "manifest_sql_ddl" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE NOT (lang = 'de')
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 2000 AS BIGINT) AS n_chars
        |  FROM documents WHERE lang = 'de')
        |ORDER BY doc_id""".stripMargin,

    // SQL UPDATE semantics replayed: matching rows get the SET
    // expression over their OLD values, everything else byte-identical
    "manifest_sql_update" ->
      """SELECT doc_id, lang,
        |  CASE WHEN lang = 'de' AND doc_id % 3 = 0
        |       THEN CAST(n_chars * 2 + 7 AS BIGINT) ELSE n_chars END
        |    AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // SQL MERGE (upsert) semantics replayed: source keys win, absent
    // keys insert, unmatched target rows survive byte-identical
    "manifest_sql_merge" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, CAST(n_chars + 5000 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id >= 120 AND doc_id < 520
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id < 400 AND NOT (doc_id >= 120 AND doc_id < 520))
        |ORDER BY doc_id""".stripMargin,

    // GENERAL MERGE, partial/conditional clauses replayed: first
    // matching clause wins (evens get the bump, odds negate), the
    // conditional partial INSERT adds only the sub-480 band
    "manifest_sql_merge_partial" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN doc_id >= 120 AND doc_id % 2 = 0
        |              THEN n_chars + doc_id * 3
        |              WHEN doc_id >= 120 THEN -n_chars
        |              ELSE n_chars END AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id < 400
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 9 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id >= 400 AND doc_id < 480)
        |ORDER BY doc_id""".stripMargin,

    // GENERAL MERGE, sync-to-source replayed: matched %5 rows deleted,
    // other matched rows updated from the source, NOT-MATCHED-BY-SOURCE
    // rows zeroed (< 50) or deleted (>= 390)
    "manifest_sql_merge_cond" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN doc_id >= 100 AND doc_id < 300 THEN n_chars + 1
        |              WHEN doc_id < 50 THEN 0
        |              ELSE n_chars END AS BIGINT) AS n_chars
        |  FROM documents
        |  WHERE doc_id < 400
        |    AND NOT (doc_id >= 100 AND doc_id < 300 AND doc_id % 5 = 0)
        |    AND doc_id < 390)
        |ORDER BY doc_id""".stripMargin,

    // GENERAL MERGE with a rich ON replayed: the key equality names
    // differ (t.doc_id = s.src_id) and the non-equi residue
    // (s.sn > t.n_chars, i.e. doc_id % 3 = 0) gates MATCHED per row;
    // residue-false rows stay untouched (their insert is filtered),
    // the 400-450 band inserts with the signed bump
    "manifest_sql_merge_on_expr" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN doc_id >= 150 AND doc_id % 3 = 0
        |              THEN n_chars + 100 ELSE n_chars END AS BIGINT)
        |      AS n_chars
        |  FROM documents WHERE doc_id < 400
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    CAST(n_chars + CASE WHEN doc_id % 3 = 0 THEN 100 ELSE -100 END
        |         AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id >= 400 AND doc_id < 450)
        |ORDER BY doc_id""".stripMargin,

    // MERGE WITH SCHEMA EVOLUTION replayed: the pre-merge rows carry
    // NULL in the evolved column, the matched band updates through
    // SET *, the 400-500 band inserts whole
    "manifest_sql_merge_evolve" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id >= 200 AND doc_id < 500)
        |ORDER BY doc_id""".stripMargin,

    // DELETE WHERE IN (subquery) replayed: the even 120-180 band goes
    "manifest_sql_delete_in_subquery" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400
        |  AND NOT (doc_id >= 120 AND doc_id < 180 AND doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,

    // CORRELATED DML replayed: semi-EXISTS delete (even 120-180),
    // anti-NOT-EXISTS delete (the >= 350 tail), correlated UPDATE
    // (+50 under 50)
    "manifest_sql_delete_exists" ->
      """SELECT doc_id, lang,
        |  CAST(n_chars + CASE WHEN doc_id < 50 THEN 50 ELSE 0 END
        |       AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id < 350
        |  AND NOT (doc_id >= 120 AND doc_id < 180 AND doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,

    // MULTI-COLUMN IN (subquery) DELETE replayed: the 150-250 band's
    // (doc_id, lang) tuples match themselves and go
    "manifest_sql_delete_in_multi" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400
        |  AND NOT (doc_id >= 150 AND doc_id < 250)
        |ORDER BY doc_id""".stripMargin,

    // ADD COLUMN DEFAULT replayed: pre-ADD rows read the frozen 5,
    // the 100-200 band materializes 6, the 400-450 insert takes the
    // CURRENT default 5, the 450-480 insert takes the moved default 9,
    // the 480-500 insert stays NULL
    "manifest_sql_add_default" ->
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN doc_id >= 480 THEN NULL
        |            WHEN doc_id >= 450 THEN 9
        |            WHEN doc_id >= 100 AND doc_id < 200 THEN 6
        |            ELSE 5 END AS BIGINT) AS score
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin,

    // IDENTITY replayed on the id MULTISET (uniqueness + density, no
    // row assignment assumed): ids are {1..400} minus the deleted
    // (100,150] band plus the continued {401..450} — band aggregates
    // derive from doc_id arithmetic
    "manifest_sql_identity" ->
      """SELECT CAST((id - 1) // 50 AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(id) AS BIGINT) AS lo,
        |  CAST(max(id) AS BIGINT) AS hi,
        |  CAST(sum(id) AS BIGINT) AS sid
        |FROM (SELECT doc_id + 1 AS id FROM documents WHERE doc_id < 450)
        |WHERE NOT (id > 100 AND id <= 150)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // GENERATED ALWAYS AS replayed: the +10 band and the merge band
    // move n_chars; nc2 is always n_chars * 2 + doc_id % 7
    "manifest_sql_generated" ->
      """SELECT doc_id, CAST(n2 AS BIGINT) AS n_chars,
        |  CAST(n2 * 2 + doc_id % 7 AS BIGINT) AS nc2
        |FROM (SELECT doc_id,
        |        n_chars + CASE WHEN doc_id >= 100 AND doc_id < 200 THEN 10
        |                       WHEN doc_id >= 350 THEN 5
        |                       ELSE 0 END AS n2
        |      FROM documents WHERE doc_id < 450)
        |ORDER BY doc_id""".stripMargin,

    // CORRELATED SCALAR UPDATE SET replayed as a self-join: the
    // 120-180 band takes its own n_chars + 1000, the rest of the
    // 100-200 WHERE band null-fills, everything else keeps n_chars;
    // rows >= 300 take the lang of doc_id - 300
    "manifest_sql_update_corr_set" ->
      """SELECT d.doc_id,
        |  CASE WHEN d.doc_id >= 300 THEN m.lang ELSE d.lang END AS lang,
        |  CAST(CASE WHEN d.doc_id >= 120 AND d.doc_id < 180
        |              THEN d.n_chars + 1000
        |            WHEN d.doc_id >= 100 AND d.doc_id < 200 THEN NULL
        |            ELSE d.n_chars END AS BIGINT) AS n_chars
        |FROM documents d
        |LEFT JOIN documents m ON m.doc_id = d.doc_id - 300
        |WHERE d.doc_id < 400
        |ORDER BY d.doc_id""".stripMargin,

    // MERGE-subquery replayed with the same exact integer scalars
    // (DuckDB computes min/max/count over the same table): matched
    // 350-400 rows above the global min take n_chars + 99, the rest
    // delete; 400-450 inserts carry count(doc_id < 50) = 50
    "manifest_sql_merge_subquery" ->
      """WITH th AS (SELECT min(n_chars) AS mn FROM documents
        |            WHERE doc_id < 450),
        |     mx AS (SELECT max(doc_id) AS md FROM documents
        |            WHERE doc_id < 100),
        |     ct AS (SELECT count(*) AS c FROM documents WHERE doc_id < 50)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN d.doc_id >= 350 THEN d.n_chars + (SELECT md FROM mx)
        |         ELSE d.n_chars END AS n_chars
        |  FROM documents d
        |  WHERE d.doc_id < 400
        |    AND NOT (d.doc_id >= 350
        |             AND d.n_chars <= (SELECT mn FROM th))
        |  UNION ALL
        |  SELECT doc_id, lang, (SELECT c FROM ct) AS n_chars
        |  FROM documents WHERE doc_id >= 400 AND doc_id < 450
        |) ORDER BY doc_id""".stripMargin,

    // THETA MERGE replayed: the 150-250 band bumps +1000, 300-320
    // +2000, and the unmatched (9000, 9010) range inserts one row
    "manifest_sql_merge_theta" ->
      """SELECT doc_id, lang,
        |  CAST(n_chars + CASE WHEN doc_id >= 150 AND doc_id < 250
        |                        THEN 1000
        |                      WHEN doc_id >= 300 AND doc_id < 320
        |                        THEN 2000
        |                      ELSE 0 END AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id < 400
        |UNION ALL
        |SELECT CAST(9000 AS BIGINT), 'theta', CAST(-1 AS BIGINT)
        |ORDER BY doc_id, lang""".stripMargin,

    // correlated NOT IN replayed: every row matches itself inside its
    // lang group, so the survivors are exactly the subquery's named
    // band (< 260 minus 40-80)
    "manifest_sql_delete_not_in" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 260 AND NOT (doc_id >= 40 AND doc_id < 80)
        |ORDER BY doc_id""".stripMargin,

    // scalar-comparison WHERE replayed as self-joins: delete rows
    // shorter than their +150 witness (< 400), then bump survivors at
    // least as long as their -200 witness; no-witness rows untouched
    // (NULL comparison filters)
    "manifest_sql_where_scalar" ->
      """SELECT d.doc_id, d.lang,
        |  CAST(d.n_chars + CASE WHEN m.doc_id IS NOT NULL
        |                          AND d.n_chars >= m.n_chars
        |                        THEN 10000 ELSE 0 END AS BIGINT)
        |    AS n_chars
        |FROM documents d
        |LEFT JOIN documents w
        |  ON w.doc_id = d.doc_id + 150 AND w.doc_id < 400
        |LEFT JOIN documents m ON m.doc_id = d.doc_id - 200
        |WHERE d.doc_id < 400
        |  AND NOT (w.doc_id IS NOT NULL AND d.n_chars < w.n_chars)
        |ORDER BY d.doc_id""".stripMargin,

    // SHALLOW CLONE replayed: the clone IS the source plus the
    // divergent +1000 band
    "manifest_sql_clone" ->
      """SELECT doc_id, lang,
        |  CAST(n_chars + CASE WHEN doc_id >= 100 AND doc_id < 200
        |                        THEN 1000 ELSE 0 END AS BIGINT)
        |    AS n_chars
        |FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    // GENERATED-pruning replayed: ts = 2024-03-01 + doc_id hours, day
    // its date; the 2024-03-10..12 ts band (doc_id 216..264) deleted
    "manifest_sql_generated_pruning" ->
      """SELECT doc_id,
        |  CAST(DATE '2024-03-01' + CAST(doc_id // 24 AS INT) AS VARCHAR)
        |    AS day_s,
        |  n_chars
        |FROM documents
        |WHERE doc_id < 500 AND NOT (doc_id >= 216 AND doc_id < 264)
        |ORDER BY doc_id""".stripMargin,

    // STRUCT-FIELD UPDATE replayed as leaf scalars: meta.n bumps by
    // 1000 in the 100-200 band, meta.lang turns 'xx' where the bumped
    // leaf reaches 1150 (doc_id 150-199)
    "manifest_struct_update" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id >= 150 AND doc_id < 200 THEN 'xx'
        |       ELSE lang END AS mlang,
        |  CAST(doc_id + CASE WHEN doc_id >= 100 AND doc_id < 200
        |                     THEN 1000 ELSE 0 END AS BIGINT) AS mn
        |FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,

    // ATOMIC REPLACE replayed: the table IS the AS-SELECT frame
    "manifest_sql_replace" ->
      """SELECT doc_id, lang, CAST(n_chars * 2 AS BIGINT) AS n2
        |FROM documents WHERE doc_id >= 50 AND doc_id < 350
        |ORDER BY doc_id""".stripMargin,

    // TYPE WIDENING replayed: the INT-era rows upcast, the post-widening
    // insert carries values only BIGINT can hold
    "manifest_sql_widen_type" ->
      """SELECT doc_id, n FROM (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n FROM documents
        |  WHERE doc_id < 400
        |  UNION ALL
        |  SELECT doc_id, CAST(n_chars + 3000000000 AS BIGINT) AS n
        |  FROM documents WHERE doc_id >= 400 AND doc_id < 500)
        |ORDER BY doc_id""".stripMargin,

    // RENAME COLUMN replayed: the data is untouched (metadata-only
    // mapping commit), only the projected NAME changes
    "manifest_sql_rename_column" ->
      """SELECT doc_id AS row_id, lang, n_chars FROM documents
        |WHERE doc_id < 500 ORDER BY row_id""".stripMargin,

    // SQL CALL maintenance lifecycle: compaction/packing/expiry/vacuum
    // never change visible rows; the CoW DELETE is the one mutation
    "manifest_sql_maintenance" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id >= 100 AND doc_id < 220)
        |ORDER BY doc_id""".stripMargin,

    // MERGE-DELETE semantics replayed: rows whose key appears in the
    // tombstone batch go, everything else byte-identical
    "manifest_sql_merge_delete" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 400 AND NOT (doc_id >= 150 AND doc_id < 250)
        |ORDER BY doc_id""".stripMargin,

    // a tag pins its snapshot through zero-retention maintenance and a
    // later overwrite: VERSION AS OF 'baseline' is byte-exact
    "manifest_sql_tag" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 250 ORDER BY doc_id""".stripMargin,

    // the partitions metadata face: per-partition row counts from
    // manifest math must equal the real group-by
    "manifest_sql_meta" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // readStream.table + readChangeFeed over SQL INSERT + UPDATE:
    // inserts, then the update's pre/post images for matched rows
    "manifest_table_stream_replay" ->
      """SELECT doc_id, lang, n_chars, _change_type FROM (
        |  SELECT doc_id, lang, n_chars, 'insert' AS _change_type
        |  FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, 'update_preimage'
        |  FROM documents WHERE doc_id < 300 AND doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT),
        |    'update_postimage'
        |  FROM documents WHERE doc_id < 300 AND doc_id % 5 = 0)
        |ORDER BY _change_type, doc_id""".stripMargin,

    // DV-aware planner scan: merge-on-read delete + a pushed filter,
    // answered without compaction
    "manifest_scan_dv" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id >= 100 AND doc_id < 220) AND doc_id >= 150
        |ORDER BY doc_id""".stripMargin,

    // DELETE semantics replayed: rows where the predicate is TRUE are
    // gone, everything else survives byte-identical
    "manifest_delete" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id >= 100 AND doc_id < 220)
        |ORDER BY doc_id""".stripMargin,

    // INSERT OVERWRITE WHERE: the de partition atomically swapped for
    // the re-derived frame; everything else byte-identical
    "manifest_overwrite" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE NOT (lang = 'de')
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars
        |  FROM documents WHERE lang = 'de')
        |ORDER BY doc_id""".stripMargin,

    // metadata-only DELETE of a whole partition: files dropped from
    // the manifest, nothing read or rewritten — same visible result
    "manifest_delete_meta" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (lang = 'de')
        |ORDER BY doc_id""".stripMargin,

    // merge-on-read DELETE: the SAME oracle as the copy-on-write path —
    // one truth, two strategies
    "manifest_delete_dv" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id >= 100 AND doc_id < 220)
        |ORDER BY doc_id""".stripMargin,

    // metadata-only count: footer row sums minus DV position counts
    // must equal the real COUNT(*) after the DV delete
    "manifest_count_meta" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM documents
        |WHERE NOT (doc_id >= 100 AND doc_id < 150)""".stripMargin,

    // DV maintenance: purge of delete-heavy files is reader-invisible —
    // the SAME delete oracle a third time
    "manifest_dv_compact" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id >= 100 AND doc_id < 220)
        |ORDER BY doc_id""".stripMargin,

    // metadata-only min/max: folded ColStats must equal the real
    // MIN/MAX over both the long and the string family
    "manifest_meta_minmax" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
        |  MIN(lang) AS min_lang, MAX(lang) AS max_lang
        |FROM documents""".stripMargin,

    // merge-on-read UPDATE: same oracle as the copy-on-write update
    "manifest_update_dv" ->
      """SELECT doc_id,
        |  CASE WHEN lang = 'de' THEN 'de-DE' ELSE lang END AS lang,
        |  CAST(CASE WHEN lang = 'de' THEN n_chars * 2 + 1
        |       ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // UPDATE semantics replayed: CASE recomputes the row-conditional SET
    "manifest_update" ->
      """SELECT doc_id,
        |  CASE WHEN lang = 'de' THEN 'de-DE' ELSE lang END AS lang,
        |  CAST(CASE WHEN lang = 'de' THEN n_chars * 2 + 1
        |       ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MERGE semantics replayed: matched keys take the source row,
    // unmatched source rows insert, untouched target rows survive
    "manifest_merge" ->
      """WITH src AS (
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id >= 140 AND doc_id < 180
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000 AS BIGINT), lang, n_chars
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT doc_id, lang, n_chars FROM (
        |  SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM src)
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM src)
        |ORDER BY doc_id""".stripMargin,

    // the feed over (v1, v4]: batch b1 appended at v2, b2 at v4, the
    // v3 compaction contributes nothing
    "manifest_changefeed" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(CASE doc_id % 3 WHEN 1 THEN 2 ELSE 4 END AS BIGINT)
        |    AS commit_version
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |ORDER BY doc_id""".stripMargin,

    // hive-style partition pruning without directories: the lang
    // partition filter reads exactly the matching partition's files
    "manifest_partition_pruned" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'de' ORDER BY doc_id""".stripMargin,

    // content-classified feed: b0 at v1, the pure-insert merge's
    // re-keyed rows at v3 (op "merge", nothing removed), b2 at v5;
    // the v2 compaction and the v4 zero-match DV delete contribute
    // nothing
    "manifest_feed_insert_merge" ->
      """SELECT doc_id, lang, n_chars, commit_version FROM (
        |  SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS commit_version
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000 AS BIGINT), lang, n_chars,
        |    CAST(3 AS BIGINT)
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, CAST(5 AS BIGINT)
        |  FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY doc_id""".stripMargin,

    // the typed change log: v1 inserts, v3 delete band, v4 update
    // pre/post, v5 merge pre/post (over v4's state) + re-keyed inserts;
    // the v2 compaction contributes nothing. The SAME oracle checks both
    // consumption paths — the batch feed and the streaming source.
    "manifest_cdf" -> cdfOracleSql,
    "manifest_table_cdf_batch" -> cdfOracleSql,
    "manifest_cdf_stream_replay" -> cdfOracleSql,
    "manifest_cdf_dv" -> cdfDvOracleSql,
    "manifest_cdf_dv_stream_replay" -> cdfDvOracleSql,
    "manifest_restore_cdf" -> restoreCdfOracleSql,
    "manifest_restore_cdf_stream_replay" -> restoreCdfOracleSql,

    // bin-packing repack is row-preserving: the table still equals
    // the union of every append
    "manifest_compact_small" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // restore undoes the band delete exactly: the table equals its
    // pre-delete self
    "manifest_restore" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // source -> sink pipe: the destination table holds exactly the
    // staged source rows, streamed exactly-once
    "manifest_sink_replay" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the same pipe addressed as writeStream.toTable("cat.t"): the
    // catalog-named destination holds exactly the source rows
    "manifest_table_stream_sink_replay" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the streamed feed since v1: batches b1 and b2, the compaction
    // contributes nothing
    "manifest_stream_replay" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 3 IN (1, 2)
        |ORDER BY doc_id""".stripMargin,

    // b0's rows (even doc_id) predate the lang column: null-filled
    "manifest_schema_evolution" ->
      """SELECT doc_id, n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the evolved column on a PARTITIONED table: old-generation files
    // null-fill it, the read spans both generations of one partition
    "manifest_partition_evolution" ->
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(n_chars % 97 AS BIGINT)
        |       ELSE NULL END AS score
        |FROM documents WHERE lang = 'de' ORDER BY doc_id""".stripMargin,

    // the native two-sided overlap predicate, a_id < b_id halving
    "range_overlap" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    event_type FROM events WHERE ts IS NOT NULL),
        |iv AS (SELECT event_id AS iid, user_id, ts_us AS s,
        |    ts_us + 1800000000 AS e
        |  FROM ev WHERE event_type = 'purchase' AND user_id % 5 = 0)
        |SELECT a.iid AS a_id, b.iid AS b_id
        |FROM iv a JOIN iv b ON a.user_id = b.user_id
        |  AND a.s <= b.e AND b.s <= a.e AND a.iid < b.iid
        |ORDER BY a_id, b_id""".stripMargin,

    "asof_join" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS pval
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us, r.pval
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        |ORDER BY l.event_id""".stripMargin,

    // the sketch contract, not the sketch internals: exact counts
    // replayed, the per-estimate error bounds declared TRUE — Spark
    // computes the bound checks in-plan, so a hash match certifies
    // every estimate honored its documented accuracy (VERDICT r9 #4)
    "approx_corpus_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_exact,
        |  TRUE AS hll_within_3rsd, TRUE AS p50_rank_ok,
        |  TRUE AS p90_rank_ok, TRUE AS p99_rank_ok
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "top_ngrams" ->
      """WITH gr AS (SELECT unnest(ngrams) AS gram FROM (
        |  SELECT [array_to_string(toks[i:i+1], ' ')
        |    for i in range(1, greatest(len(toks) - 1, 1) + 1)] AS ngrams
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents WHERE text IS NOT NULL)))
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM gr
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,

    // window starts 1, 1+24, 1+48, … for every start <= token count;
    // the final window truncates at the doc end — same coverage rule as
    // TextAnalysis.chunkWindows
    "chunk_windows" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |wl AS (SELECT doc_id,
        |  [{'chunk_idx': CAST((s - 1) // 24 AS BIGINT),
        |    'chunk_text': array_to_string(toks[s:s+31], ' '),
        |    'n_tokens': CAST(len(toks[s:s+31]) AS BIGINT)}
        |   for s in range(1, greatest(len(toks), 1) + 1, 24)] AS cs
        |  FROM tok),
        |w AS (SELECT doc_id, unnest(cs, recursive := true) FROM wl)
        |SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM w
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // planted repetition (dup second line on evens, inline repeat on %3,
    // unique tail otherwise), then line-dedup fraction + top-bigram
    // coverage — non-distinct n-gram windows, unlike the shingle oracles
    "repetition_signals" ->
      """WITH planted AS (SELECT doc_id,
        |  text || chr(10) ||
        |  CASE WHEN doc_id % 2 = 0 THEN text
        |       ELSE 'tail ' || CAST(doc_id AS VARCHAR) END ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' ' || text ELSE '' END AS text
        |  FROM documents),
        |lf AS (SELECT doc_id,
        |  CASE WHEN len(lines) <= 0 THEN 0.0 ELSE
        |    ROUND(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines), 4)
        |  END AS dup_line_frac
        |  FROM (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0)
        |      AS lines FROM planted)),
        |gr AS (SELECT doc_id, unnest(ngrams) AS gram FROM (
        |  SELECT doc_id,
        |    [array_to_string(toks[i:i+1], ' ')
        |     for i in range(1, greatest(len(toks) - 1, 1) + 1)] AS ngrams
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM planted))),
        |cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM gr GROUP BY doc_id, gram),
        |cov AS (SELECT doc_id,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4)
        |    AS top_ngram_cov FROM cnt GROUP BY doc_id)
        |SELECT l.doc_id, l.dup_line_frac, c.top_ngram_cov
        |FROM lf l JOIN cov c ON l.doc_id = c.doc_id
        |ORDER BY l.doc_id""".stripMargin,

    // benchmark = every 50th doc; contaminated = any shared 8-word
    // n-gram (list_intersect replays arrays_overlap for null-free
    // string arrays)
    "decontaminate_flag" ->
      s"""WITH btok AS (SELECT string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents WHERE doc_id % 50 = 0),
         |bsh AS (SELECT flatten(list(${wordShinglesSql("toks", 8)})) AS bench_sh
         |  FROM btok),
         |dtok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |dsh AS (SELECT doc_id, ${wordShinglesSql("toks", 8)} AS sh FROM dtok)
         |SELECT d.doc_id, len(list_intersect(d.sh, b.bench_sh)) > 0 AS contaminated
         |FROM dsh d, bsh b ORDER BY d.doc_id""".stripMargin,

    "quality_filter" ->
      s"""WITH ${qualityAuditCte()}
         |SELECT doc_id, drop_reasons, drop_reasons = '' AS keep
         |FROM audit ORDER BY doc_id""".stripMargin,

    "quality_report" ->
      s"""WITH ${qualityAuditCte()},
         |r AS (SELECT unnest(string_split(drop_reasons, ',')) AS reason
         |  FROM audit WHERE drop_reasons <> '')
         |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n FROM r
         |GROUP BY reason ORDER BY reason""".stripMargin,

    // same plant, same RE2-compatible patterns, same replace order;
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all
    // matches by default)
    "pii_scrub" ->
      s"""WITH planted AS ($plantedPiiSql)
         |SELECT doc_id, ${scrubSql("text")} AS scrubbed
         |FROM planted ORDER BY doc_id""".stripMargin,

    // the composed ingest chain: md5 anti-join vs the even-id corpus
    // (NOT EXISTS = left_anti), quality audit over the survivors, scrub
    // on whatever keeps — each piece individually oracle-checked above,
    // the composition hash-checked here
    "ingest_pipeline" ->
      s"""WITH planted AS ($plantedPiiSql),
         |surv AS (SELECT p.doc_id, p.text FROM planted p WHERE NOT EXISTS (
         |  SELECT 1 FROM planted c
         |  WHERE c.doc_id % 2 = 0 AND md5(c.text) = md5(p.text))),
         |${qualityAuditCte("surv")}
         |SELECT a.doc_id, ${scrubSql("s.text")} AS text
         |FROM audit a JOIN surv s ON a.doc_id = s.doc_id
         |WHERE a.drop_reasons = '' ORDER BY a.doc_id""".stripMargin,

    // the sequential 3-batch fold collapses to a set-oriented replay:
    // first arrival (by batch, then id) per content fingerprint wins the
    // cross-batch dedup, quality audits the winners, scrub whatever keeps
    "ingest_corpus_replay" ->
      s"""WITH planted_all AS ($plantedPiiSql),
         |planted AS (SELECT * FROM planted_all WHERE doc_id < 250),
         |seeded AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         |    CAST(doc_id % 3 AS BIGINT) AS b FROM planted
         |  UNION ALL
         |  SELECT CAST(doc_id + 1000000 AS BIGINT) AS doc_id, text,
         |    CAST((doc_id + 1) % 3 AS BIGINT) AS b
         |  FROM planted WHERE doc_id % 5 = 0),
         |surv AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY md5(text) ORDER BY b, doc_id) AS rn
         |    FROM seeded) WHERE rn = 1),
         |${qualityAuditCte("surv")}
         |SELECT a.doc_id, ${scrubSql("s.text")} AS text
         |FROM audit a JOIN surv s ON a.doc_id = s.doc_id
         |WHERE a.drop_reasons = '' ORDER BY a.doc_id""".stripMargin,

    // the 2-batch near-dup fold: within-batch keep-one per batch (the
    // dedup_near_keep chain, instantiated twice with prefixes), then
    // batch 1's keepers probe batch 0's survivors by signature bands at
    // the MinHash-estimate threshold — exactly NearDupSink's sequential
    // semantics (a later near-dup of an earlier SURVIVOR drops; nothing
    // re-clusters globally)
    "neardup_corpus_replay" -> {
      val sub = "SELECT doc_id, text FROM documents WHERE doc_id < 100"
      val b0 =
        s"""SELECT CAST(doc_id AS BIGINT) AS id, text FROM ($sub)
           |  UNION ALL
           |  SELECT CAST(doc_id + 100000 AS BIGINT),
           |    substring(text, 1, greatest(length(text) - 8, 0)) FROM ($sub)""".stripMargin
      val b1 =
        s"""SELECT CAST(doc_id + 200000 AS BIGINT) AS id,
           |  substring(text, 1, length(text) - 16) AS text FROM ($sub)""".stripMargin
      val firstBand = (0 until 4).foldRight("4") { (b, rest) =>
        s"(CASE WHEN pg[${b * 4 + 1}:${b * 4 + 4}] = cg[${b * 4 + 1}:${b * 4 + 4}] THEN $b ELSE $rest END)"
      }
      val est = "CAST(len([i for i in range(1, 17) if pg[i] = cg[i]]) AS DOUBLE) / 16.0"
      s"""WITH RECURSIVE ${nearDupCtes(b0, "z")},
         |${nearDupKeepCtes("z")},
         |${nearDupCtes(b1, "y")},
         |${nearDupKeepCtes("y")},
         |pb AS (SELECT b.id, b.g, b.band, b.bh
         |  FROM ybands b JOIN ykeep w ON b.id = w.id),
         |cb AS (SELECT b.id, b.g, b.band, b.bh
         |  FROM zbands b JOIN zkeep v ON b.id = v.id),
         |probe_cand AS (SELECT p.id AS probe_id, p.g AS pg, c.g AS cg
         |  FROM pb p JOIN cb c ON p.band = c.band AND p.bh = c.bh
         |  WHERE p.band = $firstBand),
         |hits AS (SELECT DISTINCT probe_id FROM probe_cand WHERE $est >= 0.5)
         |SELECT id FROM zkeep
         |UNION ALL
         |SELECT id FROM ykeep k
         |WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.probe_id = k.id)
         |ORDER BY id""".stripMargin
    },

    // one-shot aggregate over the whole table — hash-equal to the
    // 3-batch partial-aggregate fold iff the maintained stats are
    // associative; token counting mirrors the text_tokens oracle
    "corpus_stats_replay" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the same seeded-centroid assignment as the store's appends, the
    // same (dist2, cid) cell ranking for the probe set, the same
    // (cos DESC, id) top-10 cut inside the probed cells
    "vector_store_search" ->
      s"""WITH ${ivfAssignSql(16)},
         |qv AS (SELECT [CAST(embedding[i] AS DOUBLE) for i in range(1, 65)] AS q_vec
         |  FROM embeddings WHERE vec_id = 0),
         |qc AS (SELECT cid,
         |  row_number() OVER (ORDER BY ${l2Sql("q_vec", "c.cv")}, cid) AS crn
         |  FROM c, qv),
         |probe AS (SELECT cid FROM qc WHERE crn <= 2),
         |cand AS (SELECT e.vec_id, ${cosSql("e.embedding", "q_vec")} AS cos
         |  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.centroid_id = p.cid, qv
         |  WHERE e.vec_id <> 0)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, ROUND(cos, 6) AS cos6
         |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // the independent IVF replay (same as ivf_search_many): seeded
    // centroids, per-query (dist2, cid) cell rank, nprobe=2 probe,
    // exact-cosine top-3 — served from the store in the Spark plan
    "vector_store_search_many" -> ivfSearchManySql(2),

    // the full retrain replay: the drifted corpus (originals + every
    // vector shifted +2.0, ids offset), the SAME unrolled Lloyd rounds
    // (seed = 16 lowest ids, 4-decimal means), nearest-cell re-assign,
    // then the drifted query's nprobe=2 probe and exact-cosine top-10
    "vector_store_retrain" ->
      s"""WITH corpus AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |    [CAST(x AS DOUBLE) for x in embedding] AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT CAST(vec_id + 100000 AS BIGINT),
         |    [CAST(x AS DOUBLE) + 2.0 for x in embedding] FROM embeddings),
         |${kmeansSql(16, 2, from = "corpus")},
         |qv AS (SELECT [CAST(x AS DOUBLE) + 2.0 for x in embedding] AS q_vec
         |  FROM embeddings WHERE vec_id = 0),
         |qc AS (SELECT cid,
         |  row_number() OVER (ORDER BY ${l2Sql("q_vec", "c.cv")}, cid) AS crn
         |  FROM km_c2 c, qv),
         |probe AS (SELECT cid FROM qc WHERE crn <= 2),
         |assign AS (SELECT vec_id, embedding, cid AS centroid_id FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${l2Sql("e.embedding", "c.cv")}, c.cid) AS rn
         |  FROM corpus e, km_c2 c) WHERE rn = 1),
         |cand AS (SELECT a.vec_id, ${cosSql("a.embedding", "q_vec")} AS cos
         |  FROM assign a JOIN probe p ON a.centroid_id = p.cid, qv
         |  WHERE a.vec_id <> 100000)
         |SELECT vec_id, ROUND(cos, 6) AS cos6
         |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // the full two-pass replay: same floor-quantization (scale =
    // max|x|/127, total via the zero-vector guard), same int8 coarse
    // rank and top-40 cut, same exact-cosine rerank — floor (not round)
    // everywhere because floor is engine-unambiguous
    "vector_store_search_q8" ->
      s"""WITH ${ivfAssignSql(16)},
         |qv AS (SELECT [CAST(embedding[i] AS DOUBLE) for i in range(1, 65)] AS q_vec
         |  FROM embeddings WHERE vec_id = 0),
         |qc AS (SELECT cid,
         |  row_number() OVER (ORDER BY ${l2Sql("q_vec", "c.cv")}, cid) AS crn
         |  FROM c, qv),
         |probe AS (SELECT cid FROM qc WHERE crn <= 2),
         |cells AS (SELECT e.vec_id,
         |  [CAST(e.embedding[i] AS DOUBLE) for i in range(1, 65)] AS v
         |  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.centroid_id = p.cid
         |  WHERE e.vec_id <> 0),
         |qz AS (SELECT vec_id, v, list_transform(v, y -> floor(y / s)) AS q8
         |  FROM (SELECT vec_id, v,
         |    CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS s
         |    FROM (SELECT vec_id, v,
         |      list_max(list_transform(v, y -> abs(y))) AS m FROM cells))),
         |coarse AS (SELECT vec_id, v,
         |  row_number() OVER (ORDER BY ${cosSql("q8", "q_vec")} DESC, vec_id) AS rn
         |  FROM qz, qv),
         |cand AS (SELECT vec_id, v FROM coarse WHERE rn <= 40),
         |exact AS (SELECT vec_id, ${cosSql("v", "q_vec")} AS cos FROM cand, qv)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, ROUND(cos, 6) AS cos6
         |FROM exact ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "pq_codebooks" ->
      s"""WITH ${pqSql(8, 16, 2)}
         |SELECT CAST(sub AS INTEGER) AS sub, CAST(cid AS BIGINT) AS cid,
         |  CAST(pos AS INTEGER) AS pos, mval
         |FROM pq_m2 ORDER BY sub, cid, pos""".stripMargin,

    // the full ADC path: trained codebooks (pqSql), per-subspace argmin
    // encoding of the probed cells, LUT dots of the query's subvectors,
    // the subspace-ORDER fold of the per-code lookups (list(... ORDER BY
    // sub) then the same left-to-right reduce Spark's 8-term addition
    // performs), coarse rank by ADC cosine, exact rerank of the top 40
    "vector_store_search_pq" ->
      s"""WITH ${ivfAssignSql(16)},
         |${pqSql(8, 16, 2)},
         |qv AS (SELECT [CAST(embedding[i] AS DOUBLE) for i in range(1, 65)] AS q_vec
         |  FROM embeddings WHERE vec_id = 0),
         |qc AS (SELECT cid,
         |  row_number() OVER (ORDER BY ${l2Sql("q_vec", "c.cv")}, cid) AS crn
         |  FROM c, qv),
         |probe AS (SELECT cid FROM qc WHERE crn <= 2),
         |cells AS (SELECT e.vec_id,
         |  [CAST(e.embedding[i] AS DOUBLE) for i in range(1, 65)] AS v
         |  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.centroid_id = p.cid
         |  WHERE e.vec_id <> 0),
         |pq_enc AS (SELECT vec_id, sub, cid FROM (
         |  SELECT cl.vec_id, c.sub, c.cid,
         |    row_number() OVER (PARTITION BY cl.vec_id, c.sub
         |      ORDER BY ${l2OffSql("cl.v", "c.sub * 8", "c.cv", 8)}, c.cid) AS rn
         |  FROM cells cl CROSS JOIN pq_c2 c) WHERE rn = 1),
         |pq_lut AS (SELECT c.sub, c.cid,
         |  ${dotOffSql("q_vec", "c.sub * 8", "c.cv", 8)} AS d FROM pq_c2 c, qv),
         |pq_ds AS (SELECT pc.vec_id, list(l.d ORDER BY pc.sub) AS ds
         |  FROM pq_enc pc JOIN pq_lut l ON l.sub = pc.sub AND l.cid = pc.cid
         |  GROUP BY pc.vec_id),
         |nrm AS (SELECT vec_id, sqrt(${dotSql("v", "v")}) AS nrm FROM cells),
         |pq_acos AS (SELECT n.vec_id,
         |  CASE WHEN n.nrm = 0 THEN 0.0
         |       ELSE ${dfold("d2.ds")} / (sqrt(${dotSql("q_vec", "q_vec")}) * n.nrm)
         |  END AS acos
         |  FROM pq_ds d2 JOIN nrm n ON n.vec_id = d2.vec_id, qv),
         |pq_coarse AS (SELECT cl.vec_id, cl.v,
         |  row_number() OVER (ORDER BY a.acos DESC, cl.vec_id) AS rn
         |  FROM cells cl JOIN pq_acos a ON a.vec_id = cl.vec_id),
         |pq_cand AS (SELECT vec_id, v FROM pq_coarse WHERE rn <= 40),
         |pq_exact AS (SELECT vec_id, ${cosSql("v", "q_vec")} AS cos FROM pq_cand, qv)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, ROUND(cos, 6) AS cos6
         |FROM pq_exact ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // the COMPLETE ingest fold: exact first-arrival collapse (window
    // rank over md5 by batch order), quality audit + scrub on the
    // winners, then per-batch near-dup keep + cross-batch signature
    // probe over the SCRUBBED texts — every stage of ingestBatchFullCommitted
    "train_ingest_replay" ->
      s"""WITH RECURSIVE $trainIngestChainSql
         |SELECT id AS doc_id, text FROM qkeep
         |UNION ALL
         |SELECT k.id AS doc_id, k.text FROM wkeep k
         |WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.probe_id = k.id)
         |ORDER BY doc_id""".stripMargin,

    // identical oracle to train_ingest_replay ON PURPOSE: the committed
    // fold crash-replays its last batch, and effectively-once means the
    // replay must contribute NOTHING — same table, same hash
    "train_ingest_committed_replay" ->
      s"""WITH RECURSIVE $trainIngestChainSql
         |SELECT id AS doc_id, text FROM qkeep
         |UNION ALL
         |SELECT k.id AS doc_id, k.text FROM wkeep k
         |WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.probe_id = k.id)
         |ORDER BY doc_id""".stripMargin,

    // the same chain, aggregated to the per-language stats the fold's
    // statsDir hook maintains — lang recovered from the source document
    // (planted ids offset by 1M/2M keep their source's language); token
    // arithmetic matches corpus_stats_replay's established equivalence
    "train_ingest_stats_replay" ->
      s"""WITH RECURSIVE $trainIngestChainSql,
         |final AS (
         |  SELECT id, text FROM qkeep
         |  UNION ALL
         |  SELECT k.id, k.text FROM wkeep k
         |  WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.probe_id = k.id))
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(LEN(STRING_SPLIT_REGEX(TRIM(f.text), '\\s+'))) AS BIGINT)
         |    AS n_tokens,
         |  CAST(sum(length(f.text)) AS BIGINT) AS n_chars
         |FROM final f JOIN documents d ON d.doc_id = f.id % 1000000
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // the cosine-family 2-batch fold: per-batch keep-one (bucket-join
    // candidates in 2 hyperplane tables, exact cosine >= 0.9,
    // components), then batch 1's keepers bucket-probe batch 0's
    // survivors — NearDupSink.ingestBatchEmbedCommitted's sequential semantics
    "neardup_embed_corpus_replay" -> {
      val b0 =
        """SELECT CAST(vec_id AS BIGINT) AS id,
          |  [CAST(embedding[i] AS DOUBLE) for i in range(1, 65)] AS v
          |  FROM embeddings WHERE vec_id < 128""".stripMargin
      val b1 =
        """SELECT CAST(vec_id + 100000 AS BIGINT) AS id,
          |  [CAST(embedding[j + 1] AS DOUBLE) + 0.01 * CAST((j % 3) - 1 AS DOUBLE)
          |   for j in range(0, 64)] AS v
          |  FROM embeddings WHERE vec_id < 128 AND vec_id % 2 = 0
          |  UNION ALL
          |  SELECT CAST(vec_id + 200000 AS BIGINT) AS id,
          |  [CAST(embedding[i] AS DOUBLE) * -1.0 for i in range(1, 65)] AS v
          |  FROM embeddings WHERE vec_id < 128 AND vec_id % 2 = 1""".stripMargin
      def batchCtes(p: String, docsSql: String) =
        s"""${p}docs AS ($docsSql),
           |${p}br AS (SELECT id, v, [${bucketSql("v")}, ${bucketSql("v", off = 6)}] AS bks
           |  FROM ${p}docs),
           |${p}rows AS (SELECT id, v, bks, t, bks[t + 1] AS bk
           |  FROM ${p}br, range(2) rng(t)),
           |${p}pairs AS (SELECT DISTINCT l.id AS a, r2.id AS b
           |  FROM ${p}rows l JOIN ${p}rows r2 ON l.t = r2.t AND l.bk = r2.bk
           |    AND l.id < r2.id
           |  WHERE ${cosSql("l.v", "r2.v")} >= 0.9)""".stripMargin
      s"""WITH RECURSIVE ${batchCtes("q", b0)},
         |${nearDupKeepCtes("q")},
         |${batchCtes("w", b1)},
         |${nearDupKeepCtes("w")},
         |pc AS (SELECT w1.id AS probe_id, w1.v AS pv, q1.v AS cv
         |  FROM wrows w1 JOIN wkeep wk ON w1.id = wk.id
         |  JOIN qrows q1 ON w1.t = q1.t AND w1.bk = q1.bk
         |  JOIN qkeep qk ON q1.id = qk.id),
         |hits AS (SELECT DISTINCT probe_id FROM pc
         |  WHERE ${cosSql("pv", "cv")} >= 0.9)
         |SELECT id FROM qkeep
         |UNION ALL
         |SELECT id FROM wkeep k
         |WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.probe_id = k.id)
         |ORDER BY id""".stripMargin
    },

    "embed_cosine" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, ${cosSql("embedding", "qv")} AS cos
         |  FROM embeddings, q WHERE vec_id <> 0)
         |SELECT vec_id, ROUND(cos, 6) AS cos6 FROM c WHERE cos >= 0.2
         |ORDER BY vec_id""".stripMargin,

    "embed_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, ${cosSql("embedding", "qv")} AS cos
         |  FROM embeddings, q WHERE vec_id <> 0)
         |SELECT vec_id, ROUND(cos, 6) AS cos6 FROM c
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "embed_lsh_buckets" ->
      s"""SELECT CAST(${bucketSql("embedding")} AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin,

    "ivf_assign" ->
      s"""WITH ${ivfAssignSql()}
         |SELECT vec_id, centroid_id FROM assign ORDER BY vec_id""".stripMargin,

    "ivf_search" ->
      s"""WITH ${ivfAssignSql()},
         |q AS (SELECT centroid_id AS q_cell FROM assign WHERE vec_id = 0),
         |qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND(${cosSql("e.embedding", "q_vec")}, 6) AS cos6
         |FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id, q, qv
         |WHERE a.centroid_id = q.q_cell AND e.vec_id <> 0
         |ORDER BY e.vec_id""".stripMargin,

    "ivf_kmeans_centroids" ->
      s"""WITH ${kmeansSql(8, 2)}
         |SELECT cid, CAST(pos AS INTEGER) AS pos, m FROM km_m2
         |ORDER BY cid, pos""".stripMargin,

    "ivf_kmeans_assign" ->
      s"""WITH ${kmeansSql(8, 2)},
         |fin_d AS (SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cv")} AS dist2
         |  FROM embeddings e, km_c2 c),
         |fin_a AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |  FROM fin_d) WHERE rn = 1)
         |SELECT cid AS centroid_id, CAST(COUNT(*) AS BIGINT) AS n
         |FROM fin_a GROUP BY cid ORDER BY centroid_id""".stripMargin,

    "ivf_search_nprobe2" ->
      s"""WITH ${ivfAssignSql()},
         |qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
         |cd AS (SELECT cid AS centroid_id, ${l2Sql("cv", "q_vec")} AS dist2
         |  FROM c, qv),
         |qcells AS (SELECT centroid_id FROM cd ORDER BY dist2, centroid_id
         |  LIMIT 2)
         |SELECT e.vec_id, ROUND(${cosSql("e.embedding", "q_vec")}, 6) AS cos6
         |FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
         |  JOIN qcells q ON a.centroid_id = q.centroid_id, qv
         |WHERE e.vec_id <> 0
         |ORDER BY e.vec_id""".stripMargin,

    "ann_bucketed" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |  ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
         |SELECT vec_id, ROUND(${cosSql("embedding", "qv")}, 6) AS cos6
         |FROM b, q WHERE b.bucket = q.qb AND vec_id <> 0
         |ORDER BY vec_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substring(md5(text), 1, 16) AS content_hash,
        |  CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'jpeg'
        |       WHEN octet_length(encode(text)) % 3 = 1 THEN 'png'
        |       ELSE 'webp' END AS format
        |FROM documents ORDER BY media_id""".stripMargin,

    "sample_split" -> {
      val bounds = Sampling.splitBounds(canonicalSplits)
      val frac = s"CAST(${h60("'0'", "CAST(doc_id AS VARCHAR)")} AS DOUBLE) / 1152921504606846976.0"
      s"""WITH f AS (SELECT doc_id, lang, $frac AS frac FROM documents)
         |SELECT doc_id, lang, ROUND(frac, 6) AS frac6,
         |  CASE WHEN frac < ${bounds(0)} THEN 'train'
         |       WHEN frac < ${bounds(1)} THEN 'val' ELSE 'test' END AS split
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "sample_stratified" -> {
      val rate = stratRates.foldRight("0.1") { case ((cls, r), rest) =>
        s"(CASE WHEN lang = '$cls' THEN $r ELSE $rest END)"
      }
      val frac = s"CAST(${h60("'0'", "CAST(doc_id AS VARCHAR)")} AS DOUBLE) / 1152921504606846976.0"
      s"""SELECT doc_id, lang FROM documents
         |WHERE $frac < $rate ORDER BY doc_id""".stripMargin
    },

    // the same hash-fraction replay keyed by source (mixture weights)
    "mix_sources" -> {
      val rate = mixRates.foldRight("0.25") { case ((cls, r), rest) =>
        s"(CASE WHEN source = '$cls' THEN $r ELSE $rest END)"
      }
      val frac = s"CAST(${h60("'0'", "CAST(doc_id AS VARCHAR)")} AS DOUBLE) / 1152921504606846976.0"
      s"""SELECT doc_id, source FROM documents
         |WHERE $frac < $rate ORDER BY doc_id""".stripMargin
    },

    "multimodal_frames" ->
      """WITH offs AS (SELECT CAST(doc_id AS BIGINT) AS media_id, text,
        |  unnest(range(1, greatest(length(text) - 15, 1) + 1, 64)) AS off
        |  FROM documents)
        |SELECT media_id, CAST((off - 1) // 64 AS BIGINT) AS frame_idx,
        |  substring(md5(substring(text, CAST(off AS INTEGER), 16)), 1, 16) AS frame_hash,
        |  CAST(length(substring(text, CAST(off AS INTEGER), 16)) AS BIGINT) AS n_frame_bytes
        |FROM offs ORDER BY media_id, frame_idx""".stripMargin)
}
