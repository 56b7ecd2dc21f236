package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.ParseFunctions
import graft.operators.{Analysis, Batching, Reconcile, Tracking}
import graft.sources.{CsvIO, JsonlIO}

/** Oracle-checked queries for the SURVEY.md §2 operators that round 1 left
  * unit-tested only (VERDICT r1 "Next round" #1): every implemented
  * operator gets a `queries` entry AND a DuckDB-equivalent `oracleSql`
  * entry so the driver's correctness gate covers it.
  *
  * Fixture strategy: response/request/tracking-shaped inputs are DERIVED
  * deterministically from the driver's testdata tables (documents, events,
  * lineitem, ...) with pure Column expressions, so the DuckDB side can
  * re-derive the same fixtures with the same SQL — no hand-kept fixture
  * files, no literal drift. File-roundtrip operators (S3-S5, S7-S10) write
  * under /tmp and read back inside the query.
  */
object OpsQueries {
  import Fixtures.{freshRoot, fsOf}

  private def t(s: SparkSession, d: String, name: String) = Tables.load(s, d, name)

  /** Deterministic per-doc content fixture: the doc's {id: text} JSON. */
  private def docJson = to_json(map(col("doc_id").cast("string"), col("text")))

  // ------------------------------------------------------------ S series

  /** S7+S3 — response envelope sink + scan round trip: flat → nested JSONL
    * on disk → scan → content map explode (auto_translate.py:392-407).
    */
  def s3ResponseRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = "/tmp/graft_fix/s3_responses"
    freshRoot(s, out)
    val batched = t(s, d, "documents")
      .groupBy(customId(col("doc_id") % 20 + 1).as("custom_id"))
      // to_json renders long map keys as JSON strings, matching the real
      // response payload shape {"123": "..."}
      .agg(to_json(map_from_entries(sort_array(collect_list(
        struct(col("doc_id"), col("text")))))).as("content"))
      .select(col("custom_id"), lit(200).as("status_code"), col("content"),
        lit(null).cast("string").as("error"))
    JsonlIO.toResponseEnvelope(batched).write.mode("overwrite").json(out)
    JsonlIO.readResponses(s, out)
      .select(col("custom_id"), col("status_code"),
        explode(from_json(col("content"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))
      .select(col("custom_id"), col("status_code"),
        col("key").as("description_id"), col("value").as("translation"))
      .orderBy("custom_id", "description_id")
  }

  /** S7+S4 — request sink + scan + expected-row re-extraction
    * (check_and_process.py:38-62): the batch's ordered id list is
    * recovered from the persisted request JSONL, not in-memory state.
    */
  def s4RequestRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = "/tmp/graft_fix/s4_requests"
    freshRoot(s, out)
    val assigned = t(s, d, "documents").select(
      col("doc_id").cast("long").as("pos"),
      col("doc_id").cast("string").as("description_id"),
      col("text").as("english_sentence"),
      customId(col("doc_id") % 10 + 1).as("custom_id"))
    val requests = Batching.buildRequests(assigned, "SYSTEM PROMPT")
    JsonlIO.writeRequests(requests, out)
    JsonlIO.expectedFromRequests(JsonlIO.readRequests(s, out))
      .orderBy("custom_id", "pos")
  }

  /** S8 — repaired-JSONL sink round trip (auto_translate.py:1493-1502):
    * truncated content goes in, the sink substitutes the repaired form,
    * and a plain scan of the written file yields the recovered pairs.
    */
  def s8RepairedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = "/tmp/graft_fix/s8_repaired"
    freshRoot(s, out)
    val truncated = t(s, d, "documents").select(
      customId(col("doc_id") + 1).as("custom_id"),
      lit(200).as("status_code"),
      concat(lit("{\"k"), col("doc_id"), lit("\": \""), col("text"),
        lit("\", \"dropped\": \""), substring(col("text"), 1, 5)).as("content"),
      lit(null).cast("string").as("error"))
    JsonlIO.writeRepaired(truncated, out)
    JsonlIO.readResponses(s, out)
      .select(col("custom_id"),
        explode(from_json(col("content"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))
      .select(col("custom_id"), col("key").as("description_id"),
        col("value").as("translation"))
      .orderBy("custom_id")
  }

  /** Write documents as a folder of two CSVs (even.csv / odd.csv by
    * doc_id parity) — the shared fixture for the S5 dir scan and the T3
    * folder pipeline.
    */
  // Fixture construction is setup, not query (VERDICT r6 #4, same rule as
  // j7Fixture below): build each CSV folder once per (session, sfDir) so
  // the timed body of s5/t3 measures the scan/pipeline, not fixture I/O.
  // Like j7Fixture's tableExists re-check, the guard re-validates the
  // folder on DISK — a tmp cleaner or external delete must trigger a
  // rebuild, not a missing-path failure.
  // The on-disk re-validation checks EVERY file the fixture writes (ADVICE
  // r7: an even.csv-only check let a partial cleanup that kept even.csv but
  // dropped odd.csv pass, silently running s5/t3 on half a fixture).
  private val docFolderBuilt = scala.collection.mutable.Map.empty[String, String]
  private val docFolderFiles = Seq("even.csv", "odd.csv")
  private def writeDocFolder(s: SparkSession, d: String, root: String): Unit =
    synchronized {
      val fs = fsOf(s, root)
      if (docFolderBuilt.get(root).contains(d) &&
          docFolderFiles.forall(f =>
            fs.exists(new org.apache.hadoop.fs.Path(s"$root/$f")))) return
      writeDocFolderUncached(s, d, root)
      docFolderBuilt(root) = d
    }

  private def writeDocFolderUncached(s: SparkSession, d: String, root: String): Unit = {
    val fs = fsOf(s, freshRoot(s, root))
    val docs = t(s, d, "documents").select(
      col("doc_id").cast("string").as("description_id"),
      col("text").as("english_sentence"),
      (col("doc_id") % 2).as("par"))
    Seq(0, 1).foreach { p =>
      val stem = if (p == 0) "even" else "odd"
      val tmp = s"$root/_stage_$stem"
      docs.filter(col("par") === p).drop("par")
        .coalesce(1).write.option("header", "true").csv(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$root/$stem.csv"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
  }

  /** S5 — directory-of-CSVs scan with per-file stem lineage
    * (batch_auto_translate.py:199-209): documents split into two CSV
    * files by doc_id parity, scanned back as one table.
    */
  def s5DirScan(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/s5_dir"
    writeDocFolder(s, d, root)
    CsvIO.readInputDir(s, root)
      .orderBy("source_stem", "description_id")
  }

  /** T3 — the whole folder pipeline with the clean mock translator: every
    * file's rows batch, translate, and reconcile in one DataFrame pass;
    * the reverse-words mock keeps the result DuckDB-replayable.
    */
  def t3FolderE2E(s: SparkSession, d: String): DataFrame = {
    val root = "/tmp/graft_fix/t3_dir"
    writeDocFolder(s, d, root)
    graft.Pipeline.runFolder(s, root,
      new graft.translate.MockTranslator(injectFaults = false), budget = 3000)
      .select("source_stem", "description_id", "english_sentence", "translated_sentence")
      .orderBy("source_stem", "description_id")
  }

  /** S9 — tracking append sink: two distributed appends accumulate in one
    * log directory (auto_translate.py:134-156).
    */
  def s9TrackingAppend(s: SparkSession, d: String): DataFrame = {
    val out = "/tmp/graft_fix/s9_tracking"
    freshRoot(s, out)
    val recs = t(s, d, "events").filter(col("event_id") < 200).select(
      concat(lit("b"), col("user_id")).as("batch_id"),
      concat(lit("in_"), col("user_id"), lit(".csv")).as("input_file"),
      concat(lit("batch_"), col("event_id")).as("job_id"),
      col("event_type").as("status"),
      col("event_id").as("timestamp"),
      lit("te").as("target_language"),
      lit(null).cast("string").as("output_file"))
    Tracking.append(recs.filter(col("timestamp") % 2 === 0), out)
    Tracking.append(recs.filter(col("timestamp") % 2 === 1), out)
    Tracking.readLog(s, out)
      .select("batch_id", "input_file", "job_id", "status", "timestamp")
      .orderBy("job_id")
  }

  /** S10 — keyed upsert: an append-only change log of full and partial
    * records compacts to last-non-null-per-column per job_id
    * (auto_translate.py:159-205).
    */
  def s10TrackingUpsert(s: SparkSession, d: String): DataFrame = {
    val log = t(s, d, "events").select(
      when(col("event_type") === "signup", concat(lit("b"), col("user_id")))
        .as("batch_id"),
      when(col("event_type") === "signup",
        concat(lit("in_"), col("user_id"), lit(".csv"))).as("input_file"),
      concat(lit("batch_"), col("user_id")).as("job_id"),
      col("event_type").as("status"),
      col("event_id").as("timestamp"),
      lit("te").as("target_language"),
      when(col("event_type") === "purchase",
        concat(lit("out_"), col("event_id"), lit(".csv"))).as("output_file"))
    Tracking.latestState(log, col("timestamp"))
      .select("job_id", "batch_id", "status", "timestamp", "output_file")
      .orderBy("job_id")
  }

  // ------------------------------------------------------------ P series

  /** P5 — empty-content routing (auto_translate.py:1286-1295). */
  def p5EmptyRouting(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 3 === 1, lit("   "))
        .otherwise(col("text")).as("content"))
      .withColumn("route",
        when(col("content").isNull || trim(col("content")) === "", "empty_responses")
          .otherwise("ok"))
      .select("doc_id", "route").orderBy("doc_id")

  /** P6 — HTTP-status routing (auto_translate.py:1247-1265). */
  def p6HttpRouting(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(col("o_orderkey"),
      when(col("o_orderkey") % 7 === 0, 500)
        .when(col("o_orderkey") % 7 === 3, 429)
        .otherwise(200).as("status_code"))
      .withColumn("route",
        when(col("status_code") =!= 200, "status_code_errors").otherwise("ok"))
      .select("o_orderkey", "status_code", "route").orderBy("o_orderkey")

  /** P7 — empty-value filter during map extraction (auto_translate.py:514-518). */
  def p7MapValueFilter(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      map(col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, lit("  ")).otherwise(col("text"))).as("m"))
      .select(col("doc_id"), explode(col("m")))
      .filter(trim(col("value")) =!= "")
      .select(col("doc_id"), col("key").as("description_id"),
        col("value").as("translation"))
      .orderBy("doc_id")

  /** P8 — numbered-line predicate (check_and_process.py:287). */
  def p8NumberedPred(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 0, concat(col("doc_id"), lit(". "), col("text")))
        .otherwise(col("text")).as("line"))
      .select(col("doc_id"), col("line").rlike("^[0-9]").cast("int").as("is_numbered"))
      .orderBy("doc_id")

  // ------------------------------------------------------------ J series

  /** J2 — anti-join dedup against a key list (duplicate_remove.py:11-12). */
  def j2AntiDedup(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(col("l_partkey").as("p_partkey"))
    t(s, d, "part").join(li, Seq("p_partkey"), "left_anti")
      .select("p_partkey", "p_name").orderBy("p_partkey")
  }

  /** J3 — extra-translations anti-join (auto_translate.py:1007-1009) over
    * a fixture with PLANTED extras: every doc yields its own translation
    * row; docs with doc_id % 5 == 0 additionally yield a translation for
    * an id (`x<doc_id>`) the batch never requested. `Reconcile.extra`
    * must return exactly the planted rows.
    */
  def j3ExtraAnti(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val expected = docs.select(
      customId(col("doc_id") % 20 + 1).as("custom_id"),
      col("doc_id").cast("string").as("description_id"))
    val normal = docs.select(
      customId(col("doc_id") % 20 + 1).as("custom_id"),
      col("doc_id").cast("string").as("description_id"),
      col("text").as("translation"))
    val planted = docs.filter(col("doc_id") % 5 === 0).select(
      customId(col("doc_id") % 20 + 1).as("custom_id"),
      concat(lit("x"), col("doc_id")).as("description_id"),
      col("text").as("translation"))
    Reconcile.extra(expected, normal.unionByName(planted))
      .orderBy("custom_id", "description_id")
  }

  /** J7 — bucketed co-located join (SURVEY.md §4): both sides persisted
    * bucketed+sorted on the key, then equi-joined with NO exchange on
    * either side (BucketingSpec asserts the plan shape); this oracle row
    * checks the join SEMANTICS against a plain DuckDB join.
    */
  // The bucketed-table CREATE is index build, not query (VERDICT r3 #3):
  // build once per (session, sfDir) so the timed body is only the
  // exchange-free join+agg — bench's warm pass reuses the layout, exactly
  // as a real deployment amortizes the one-time bucketing over queries.
  @volatile private var j7Built: String = null
  private def j7Fixture(s: SparkSession, d: String): Unit = synchronized {
    val root = "/tmp/graft_fix/j7_buckets"
    if (j7Built == d && s.catalog.tableExists("j7_cust")) return
    freshRoot(s, root)
    graft.ext.Bucketing.writeBucketed(
      t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
      "j7_cust", s"$root/cust", "c_custkey")
    graft.ext.Bucketing.writeBucketed(
      t(s, d, "orders").select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
      "j7_ord", s"$root/ord", "c_custkey")
    j7Built = d
  }

  /** Build every SESSION-MEMOIZED fixture (the CSV doc folders for s5/t3
    * and the j7 bucketed tables) ahead of any timed query. Bench calls
    * this once before its cold pass (VERDICT r7 #7): without it the first
    * run of each fixture query times fixture I/O as if it were the
    * engine, a 5x phantom on s5_dir_scan's cold column. Per-call sink
    * fixtures (s8/s9 and friends) are NOT prewarmed — there the write is
    * the operator under test.
    */
  def prewarmFixtures(s: SparkSession, d: String): Unit = {
    writeDocFolder(s, d, "/tmp/graft_fix/s5_dir")
    writeDocFolder(s, d, "/tmp/graft_fix/t3_dir")
    j7Fixture(s, d)
  }

  def j7BucketedJoin(s: SparkSession, d: String): DataFrame = {
    j7Fixture(s, d)
    graft.ext.Bucketing.bucketedEquiJoin(s, "j7_cust", "j7_ord", "c_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("c_mktsegment")
  }

  /** J5 — filename-stem equi-join (batch_translator.py:164-201): pair
    * x.jsonl with x.csv across two folders by stem.
    */
  def j5StemJoin(s: SparkSession, d: String): DataFrame = {
    val jsonlSide = t(s, d, "documents")
      .select(fileStem(concat(lit("/in/jsonl/doc"), col("doc_id") % 40,
        lit(".jsonl"))).as("stem")).distinct()
    val csvSide = t(s, d, "part")
      .select(fileStem(concat(lit("/in/csv/doc"), col("p_partkey") % 25,
        lit(".csv"))).as("stem")).distinct()
    jsonlSide.join(csvSide, Seq("stem"), "inner").orderBy("stem")
  }

  // ------------------------------------------------------------ A series

  /** A4 — error-analysis rollup over a mixed-pathology response fixture
    * (auto_translate.py:1166-1181, 1504-1543): doc_id % 7 selects the
    * pathology, doc_id % 10 == 9 injects an HTTP error upstream of parse.
    */
  private def a4Fixture(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      customId(col("doc_id") + 1).as("custom_id"),
      when(col("doc_id") % 10 === 9, 500).otherwise(200).as("status_code"),
      when(col("doc_id") % 7 === 0, docJson)
        .when(col("doc_id") % 7 === 1, concat(lit("```json\n"), docJson, lit("\n```")))
        .when(col("doc_id") % 7 === 2,
          concat(lit("{\"a\": \""), col("text"), lit("\", \"b\": \""),
            substring(col("text"), 1, 5)))
        .when(col("doc_id") % 7 === 3, concat(col("doc_id"), lit(". "), col("text")))
        .when(col("doc_id") % 7 === 4, lit(""))
        .when(col("doc_id") % 7 === 5, lit("<<<garbage>>>"))
        .otherwise(lit(null).cast("string")).as("content"),
      lit(null).cast("string").as("error"))

  def a4ErrorRollup(s: SparkSession, d: String): DataFrame =
    Analysis.rollup(a4Fixture(s, d)).orderBy("outcome")

  def a4Summary(s: SparkSession, d: String): DataFrame =
    Analysis.summary(a4Fixture(s, d))

  /** A5 — per-batch count (auto_translate.py:966). */
  def a5PerBatchCount(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .orderBy("l_orderkey")

  /** A6 — ordered collect-list per batch (auto_translate.py:930-935),
    * compared as a joined string so the oracle shape is engine-neutral.
    */
  def a6CollectOrdered(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(concat_ws(",", transform(
        sort_array(collect_list(struct(
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice")))),
        r => r.getField("l_partkey").cast("string"))).as("part_seq"))
      .orderBy("l_orderkey")

  /** A7 — column-width max (batch_tracker.py:21-25). */
  def a7ColWidthMax(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").agg(
      max(length(col("c_name"))).cast("long").as("w_name"),
      max(length(col("c_mktsegment"))).cast("long").as("w_segment"))

  /** A8 — rows-removed count around a dedup (duplicate_remove.py:7-18). */
  def a8RowsRemoved(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").agg(
      (count(lit(1)) - countDistinct(md5(col("text")))).as("removed"))

  /** A9 — last-wins distinct by key (auto_translate.py:514-518,583). */
  def a9LastWins(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").groupBy("user_id")
      .agg(max_by(col("event_type"), col("event_id")).as("last_type"),
        max(col("event_id")).as("last_event_id"))
      .orderBy("user_id")

  // ------------------------------------------------------------ W series

  private def liWindow = Window.partitionBy("l_orderkey")
    .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")

  /** W2 — last-row shift check via lag (auto_translate.py:1023-1032).
    * The last row is `rn === count(*) over partition` on the SAME
    * ascending window as the lag — one sort pass, mirroring the
    * production path Reconcile.shiftFlags (the r2 version added a second
    * descending-sort window just to find the last row — VERDICT r2 #3).
    */
  def w2LastRowLag(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .withColumn("prev_qty", lag("l_quantity", 1).over(liWindow))
      .withColumn("rn", row_number().over(liWindow))
      .withColumn("n_rows", count(lit(1)).over(Window.partitionBy("l_orderkey")))
      .filter(col("rn") === col("n_rows") &&
        col("l_quantity") < 3 && col("prev_qty") >= 25)
      .select("l_orderkey", "l_quantity", "prev_qty")
      .orderBy("l_orderkey")

  /** W3 — sequence-gap check (check_and_process.py:296-310): the stored
    * numbering vs the dense expected 1..k position.
    */
  def w3SequenceGap(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .withColumn("expected_n", row_number().over(liWindow))
      .filter(col("l_linenumber") =!= col("expected_n"))
      .select("l_orderkey", "l_linenumber", "expected_n")
      .orderBy("l_orderkey", "expected_n")

  /** W4 — token-budget batcher vs a sequential oracle: single partition
    * reproduces the reference's exact greedy boundaries
    * (auto_translate.py:281-300); the DuckDB side replays the same greedy
    * scan with a recursive CTE.
    */
  def w4Batcher(s: SparkSession, d: String): DataFrame = {
    // sequential pos from the two-pass Ordinal (identical values to the
    // reference's enumerate()); only the greedy batch SCAN itself needs
    // the single partition below
    val docs = graft.ext.Ordinal.withGlobalPos(
        t(s, d, "documents"), "doc_id").select(
      col("doc_id"),
      col("pos"),
      approxTokenCount(col("text")).as("tokens"))
    Batching.assignBatches(docs, budget = 500L, baseCost = 25L, numPartitions = 1)
      .select("doc_id", "batch_index", "custom_id")
      .orderBy("doc_id")
  }

  /** W4 (parallel path) — the multi-partition pack-and-stitch under a
    * hash check (VERDICT r7 #4: `w4_batcher` pins numPartitions=1, so the
    * offset/stitching logic was spec-only). An explicit 4-way pos-range
    * split (`part = pos * 4 / n`, integer division — exactly replayable
    * in SQL, unlike sampled repartitionByRange bounds) drives
    * [[Batching.assignBatchesByPart]]; the oracle replays the per-part
    * greedy walk and stitches with the same cumulative-count offsets.
    */
  def w4BatcherPar(s: SparkSession, d: String): DataFrame = {
    val docs = graft.ext.Ordinal.withGlobalPos(
        t(s, d, "documents"), "doc_id").select(
      col("doc_id"),
      col("pos"),
      approxTokenCount(col("text")).as("tokens"))
    // pos is contiguous 0..n-1 (Ordinal), so integer-division parts are
    // exact equal ranges; n via count() is one cheap pre-job, the same
    // count the oracle's COUNT(*) OVER () replays.
    val n = t(s, d, "documents").count()
    val withPart = docs.withColumn("part",
      expr(s"CAST((pos * 4) DIV $n AS INT)"))
    Batching.assignBatchesByPart(withPart, "part", numParts = 4,
      budget = 500L, baseCost = 25L)
      .select("doc_id", "batch_index", "custom_id")
      .orderBy("doc_id")
  }

  /** Event-time tumbling-window counts (batch form of the streaming agg —
    * same expression tree as EventWindows.tumblingCountsStream).
    */
  def wTumblingCounts(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventWindows.tumblingCounts(t(s, d, "events"))
      .orderBy("w_start", "event_type")

  /** W5 — gap-based session windows per user (session_window; the oracle
    * replays the same semantics as gaps-and-islands).
    */
  def w5SessionStats(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventWindows.sessionStats(t(s, d, "events"))
      .orderBy("user_id", "first_us")

  // ------------------------------------------------------------ O series

  /** O2 — first-N per class (auto_translate.py:1576-1617 `[:10]`). */
  def o2FirstNPerClass(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("event_id")))
      .filter(col("rn") <= 10)
      .select("event_type", "event_id")
      .orderBy("event_type", "event_id")

  // ------------------------------------------------------------ F series

  /** F2 — basic fence strip recovers the original body. */
  def f2FenceStrip(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      stripFencesBasic(concat(lit("```json\n"), col("text"), lit("\n```")))
        .as("cleaned"))
      .orderBy("doc_id")

  /** F3 — aggressive strip removes interior fence lines too. */
  def f3FenceAggressive(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      stripFencesAggressive(concat(
        lit("```json\n"), col("text"), lit("\n```\nEXTRA\n```text\n"),
        col("text"), lit("\n```"))).as("cleaned"))
      .orderBy("doc_id")

  /** F4 — keep-inside-fences cascade: prose around a fenced JSON block
    * defeats F2/F3 but the F4 strategy recovers the map
    * (auto_translate.py:443-466).
    */
  def f4MultilineFences(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      concat(lit("Here is the translation:\n```\n"), docJson,
        lit("\n```\nLet me know!")).as("content"))
      .select(col("doc_id"), explode(ParseFunctions.parseCascade(col("content"))))
      .select(col("doc_id"), col("key").as("description_id"),
        col("value").as("translation"))
      .orderBy("doc_id")

  /** F5 — quote-wrapped JSON recovered by the quote/brace cleanup
    * (auto_translate.py:469-487).
    */
  def f5QuoteCleanup(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      concat(lit("\""), docJson, lit("\"")).as("content"))
      .select(col("doc_id"), explode(ParseFunctions.parseCascade(col("content"))))
      .select(col("doc_id"), col("key").as("description_id"),
        col("value").as("translation"))
      .orderBy("doc_id")

  /** F8 — truncation detection over mixed shapes (auto_translate.py:678-697). */
  def f8TruncationFlag(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0, docJson)
        .when(col("doc_id") % 3 === 1, expr("substring(to_json(map(cast(doc_id as string), text)), 1, length(to_json(map(cast(doc_id as string), text))) - 2)"))
        .otherwise(concat(lit("```json\n"), col("text"))).as("content"))
      .select(col("doc_id"), isTruncated(col("content")).cast("int").as("truncated"))
      .orderBy("doc_id")

  /** F9/F10 — brace repair of a truncated 2-pair object keeps the last
    * complete pair (auto_translate.py:725-793).
    */
  def f9Repair(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      concat(lit("{\"k\": \""), col("text"), lit("\", \"dropped\": \""),
        substring(col("text"), 1, 5)).as("content"))
      .select(col("doc_id"),
        get_json_object(ParseFunctions.repairJson(col("content")), "$.k")
          .as("recovered"))
      .orderBy("doc_id")

  /** F11 — fenced-JSON extraction out of surrounding noise
    * (auto_translate.py:796-821).
    */
  def f11FencedExtract(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      concat(lit("noise before ```json\n"), docJson, lit("\n``` noise after"))
        .as("content"))
      .select(col("doc_id"),
        element_at(from_json(ParseFunctions.extractFencedJson(col("content")),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)),
          col("doc_id").cast("string")).as("value"))
      .orderBy("doc_id")

  /** F13 — custom_id formatting (auto_translate.py:311). */
  def f13CustomId(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(col("o_orderkey"),
      customId(col("o_orderkey") % 997).as("custom_id"))
      .orderBy("o_orderkey")

  /** F14 — filename stem (auto_translate.py:910). */
  def f14FileStem(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      fileStem(concat(lit("/data/in/"), col("source"), lit("_"),
        col("doc_id"), lit(".csv"))).as("stem"))
      .orderBy("doc_id")

  /** F15 — epoch→display timestamp (batch_tracker.py:40-46). */
  def f15EpochDisplay(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(col("event_id"),
      epochDisplay(lit(1500000000L) + col("event_id") * 37).as("shown"))
      .orderBy("event_id")

  /** F16 — job-id regex extraction from log lines (batch_auto_translate.py:136-140). */
  def f16JobId(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(col("event_id"),
      extractJobId(concat(lit("run "), col("event_id"),
        lit(" Job ID: batch_u"), col("user_id"), lit("e"), col("event_id"),
        lit(" rc=0"))).as("job_id"))
      .orderBy("event_id")

  /** F17 — numbering strip (old_functionalities/testing.py:23). */
  def f17NumberingStrip(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      stripNumbering(concat(col("doc_id"), lit(". "), col("text"))).as("stripped"))
      .orderBy("doc_id")

  /** F18 — Telugu unicode range check (old_functionalities/testing.py:16). */
  def f18Telugu(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      hasTelugu(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" తెలుగు")))
        .otherwise(col("text"))).cast("int").as("has_telugu"))
      .orderBy("doc_id")

  /** F19 — truncate-for-display (auto_translate.py:1101). */
  def f19TruncateDisplay(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      truncateDisplay(col("text"), 40).as("shown"))
      .orderBy("doc_id")

  /** F20 — percentage/ratio math over grouped counts (auto_translate.py:1510-1528). */
  def f20Rates(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          * lit(100.0) / count(lit(1)), 2).as("pct_f"))
      .orderBy("o_orderpriority")

  // ------------------------------------------------------------ registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s3_response_roundtrip" -> (s3ResponseRoundtrip(_, _)),
    "s4_request_roundtrip" -> (s4RequestRoundtrip(_, _)),
    "s5_dir_scan" -> (s5DirScan(_, _)),
    "t3_folder_e2e" -> (t3FolderE2E(_, _)),
    "s8_repaired_roundtrip" -> (s8RepairedRoundtrip(_, _)),
    "s9_tracking_append" -> (s9TrackingAppend(_, _)),
    "s10_tracking_upsert" -> (s10TrackingUpsert(_, _)),
    "p5_empty_routing" -> (p5EmptyRouting(_, _)),
    "p6_http_routing" -> (p6HttpRouting(_, _)),
    "p7_map_value_filter" -> (p7MapValueFilter(_, _)),
    "p8_numbered_pred" -> (p8NumberedPred(_, _)),
    "j2_anti_dedup" -> (j2AntiDedup(_, _)),
    "j3_extra_anti" -> (j3ExtraAnti(_, _)),
    "j5_stem_join" -> (j5StemJoin(_, _)),
    "j7_bucketed_join" -> (j7BucketedJoin(_, _)),
    "a4_error_rollup" -> (a4ErrorRollup(_, _)),
    "a4_summary" -> (a4Summary(_, _)),
    "a5_per_batch_count" -> (a5PerBatchCount(_, _)),
    "a6_collect_ordered" -> (a6CollectOrdered(_, _)),
    "a7_colwidth_max" -> (a7ColWidthMax(_, _)),
    "a8_rows_removed" -> (a8RowsRemoved(_, _)),
    "a9_last_wins" -> (a9LastWins(_, _)),
    "w2_last_row_lag" -> (w2LastRowLag(_, _)),
    "w3_sequence_gap" -> (w3SequenceGap(_, _)),
    "w4_batcher" -> (w4Batcher(_, _)),
    "w4_batcher_par" -> (w4BatcherPar(_, _)),
    "o2_first_n_per_class" -> (o2FirstNPerClass(_, _)),
    "w_tumbling_counts" -> (wTumblingCounts(_, _)),
    "w5_session_stats" -> (w5SessionStats(_, _)),
    "f2_fence_strip" -> (f2FenceStrip(_, _)),
    "f3_fence_aggressive" -> (f3FenceAggressive(_, _)),
    "f4_multiline_fences" -> (f4MultilineFences(_, _)),
    "f5_quote_cleanup" -> (f5QuoteCleanup(_, _)),
    "f8_truncation_flag" -> (f8TruncationFlag(_, _)),
    "f9_repair" -> (f9Repair(_, _)),
    "f11_fenced_extract" -> (f11FencedExtract(_, _)),
    "f13_custom_id" -> (f13CustomId(_, _)),
    "f14_file_stem" -> (f14FileStem(_, _)),
    "f15_epoch_display" -> (f15EpochDisplay(_, _)),
    "f16_job_id" -> (f16JobId(_, _)),
    "f17_numbering_strip" -> (f17NumberingStrip(_, _)),
    "f18_telugu" -> (f18Telugu(_, _)),
    "f19_truncate_display" -> (f19TruncateDisplay(_, _)),
    "f20_rates" -> (f20Rates(_, _)))

  /** DuckDB equivalents. The fixture derivations are repeated on the SQL
    * side so both engines compute from the same base tables.
    */
  def oracleSql: Map[String, String] = Map(
    "s3_response_roundtrip" ->
      """SELECT printf('batch-%04d', doc_id % 20 + 1) AS custom_id,
        |  200 AS status_code,
        |  CAST(doc_id AS VARCHAR) AS description_id, text AS translation
        |FROM documents ORDER BY custom_id, description_id""".stripMargin,

    "s4_request_roundtrip" ->
      """SELECT printf('batch-%04d', doc_id % 10 + 1) AS custom_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 10 ORDER BY doc_id) - 1 AS INT) AS pos,
        |  CAST(doc_id AS VARCHAR) AS description_id,
        |  text AS english_sentence
        |FROM documents ORDER BY custom_id, pos""".stripMargin,

    "s5_dir_scan" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS source_stem,
        |  CAST(doc_id AS VARCHAR) AS description_id, text AS english_sentence
        |FROM documents ORDER BY source_stem, description_id""".stripMargin,

    "t3_folder_e2e" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS source_stem,
        |  CAST(doc_id AS VARCHAR) AS description_id, text AS english_sentence,
        |  upper(array_to_string(list_reverse(string_split(text, ' ')), ' '))
        |    AS translated_sentence
        |FROM documents ORDER BY source_stem, description_id""".stripMargin,

    "s8_repaired_roundtrip" ->
      """SELECT printf('batch-%04d', doc_id + 1) AS custom_id,
        |  'k' || doc_id AS description_id, text AS translation
        |FROM documents ORDER BY custom_id""".stripMargin,

    "s9_tracking_append" ->
      """SELECT 'b' || user_id AS batch_id, 'in_' || user_id || '.csv' AS input_file,
        |  'batch_' || event_id AS job_id, event_type AS status,
        |  event_id AS timestamp
        |FROM events WHERE event_id < 200 ORDER BY job_id""".stripMargin,

    "s10_tracking_upsert" ->
      """SELECT 'batch_' || user_id AS job_id,
        |  arg_max(CASE WHEN event_type = 'signup' THEN 'b' || user_id END, event_id)
        |    FILTER (event_type = 'signup') AS batch_id,
        |  arg_max(event_type, event_id) AS status,
        |  max(event_id) AS timestamp,
        |  arg_max(CASE WHEN event_type = 'purchase' THEN 'out_' || event_id || '.csv' END, event_id)
        |    FILTER (event_type = 'purchase') AS output_file
        |FROM events GROUP BY user_id ORDER BY job_id""".stripMargin,

    "p5_empty_routing" ->
      """SELECT doc_id, CASE WHEN doc_id % 3 IN (0, 1) THEN 'empty_responses'
        |  ELSE 'ok' END AS route FROM documents ORDER BY doc_id""".stripMargin,

    "p6_http_routing" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 500
        |       WHEN o_orderkey % 7 = 3 THEN 429 ELSE 200 END AS status_code,
        |  CASE WHEN o_orderkey % 7 IN (0, 3) THEN 'status_code_errors'
        |       ELSE 'ok' END AS route
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "p7_map_value_filter" ->
      """SELECT doc_id, CAST(doc_id AS VARCHAR) AS description_id,
        |  text AS translation
        |FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin,

    "p8_numbered_pred" ->
      """SELECT doc_id,
        |  CAST(regexp_matches(
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id || '. ' || text ELSE text END,
        |    '^[0-9]') AS INT) AS is_numbered
        |FROM documents ORDER BY doc_id""".stripMargin,

    "j2_anti_dedup" ->
      """SELECT p_partkey, p_name FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "j3_extra_anti" ->
      """SELECT printf('batch-%04d', doc_id % 20 + 1) AS custom_id,
        |  'x' || doc_id AS description_id, text AS translation
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY custom_id, description_id""".stripMargin,

    "j7_bucketed_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "j5_stem_join" ->
      """SELECT DISTINCT 'doc' || (doc_id % 40) AS stem FROM documents
        |WHERE (doc_id % 40) IN (SELECT DISTINCT p_partkey % 25 FROM part)
        |ORDER BY stem""".stripMargin,

    "a4_error_rollup" ->
      """WITH classified AS (
        |  SELECT CASE
        |    WHEN doc_id % 10 = 9 THEN 'http_error'
        |    WHEN doc_id % 7 = 6 THEN 'missing_content'
        |    WHEN doc_id % 7 = 4 THEN 'empty_content'
        |    WHEN doc_id % 7 IN (0, 1) THEN 'parsed_json'
        |    WHEN doc_id % 7 = 2 THEN 'repaired'
        |    WHEN doc_id % 7 = 3 THEN 'fallback_lines'
        |    ELSE 'unparseable' END AS outcome
        |  FROM documents)
        |SELECT outcome, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 2) AS pct
        |FROM classified GROUP BY outcome ORDER BY outcome""".stripMargin,

    "a4_summary" ->
      """WITH classified AS (
        |  SELECT CASE
        |    WHEN doc_id % 10 = 9 THEN 'http_error'
        |    WHEN doc_id % 7 = 6 THEN 'missing_content'
        |    WHEN doc_id % 7 = 4 THEN 'empty_content'
        |    WHEN doc_id % 7 IN (0, 1) THEN 'parsed_json'
        |    WHEN doc_id % 7 = 2 THEN 'repaired'
        |    WHEN doc_id % 7 = 3 THEN 'fallback_lines'
        |    ELSE 'unparseable' END AS outcome
        |  FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |  CAST(COUNT(*) FILTER (outcome = 'parsed_json') AS BIGINT) AS successful,
        |  CAST(COUNT(*) FILTER (outcome = 'repaired') AS BIGINT) AS repaired,
        |  CAST(COUNT(*) FILTER (outcome = 'fallback_lines') AS BIGINT) AS fallback,
        |  CAST(COUNT(*) FILTER (outcome IN ('http_error', 'missing_content',
        |    'empty_content', 'unparseable')) AS BIGINT) AS failed,
        |  ROUND(COUNT(*) FILTER (outcome = 'parsed_json') * 100.0 / COUNT(*), 2)
        |    AS success_rate,
        |  ROUND(COUNT(*) FILTER (outcome = 'repaired') * 100.0 /
        |    GREATEST(COUNT(*) FILTER (outcome IN ('repaired', 'fallback_lines',
        |      'unparseable')), 1), 2) AS repair_rate,
        |  ROUND(COUNT(*) FILTER (outcome IN ('parsed_json', 'repaired',
        |    'fallback_lines')) * 100.0 / COUNT(*), 2) AS effective_success_rate
        |FROM classified""".stripMargin,

    "a5_per_batch_count" ->
      """SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "a6_collect_ordered" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber,
        |    l_partkey, l_suppkey, l_quantity, l_extendedprice) AS part_seq
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "a7_colwidth_max" ->
      """SELECT CAST(MAX(LENGTH(c_name)) AS BIGINT) AS w_name,
        |  CAST(MAX(LENGTH(c_mktsegment)) AS BIGINT) AS w_segment
        |FROM customer""".stripMargin,

    "a8_rows_removed" ->
      """SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
        |  AS removed FROM documents""".stripMargin,

    "a9_last_wins" ->
      """SELECT user_id, arg_max(event_type, event_id) AS last_type,
        |  max(event_id) AS last_event_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "w2_last_row_lag" ->
      """SELECT l_orderkey, l_quantity, prev_qty FROM (
        |  SELECT l_orderkey, l_quantity,
        |    LAG(l_quantity, 1) OVER w AS prev_qty,
        |    ROW_NUMBER() OVER w AS rn,
        |    COUNT(*) OVER (PARTITION BY l_orderkey) AS n_rows
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey,
        |    l_suppkey, l_quantity, l_extendedprice)) x
        |WHERE rn = n_rows AND l_quantity < 3 AND prev_qty >= 25
        |ORDER BY l_orderkey""".stripMargin,

    "w3_sequence_gap" ->
      """SELECT l_orderkey, l_linenumber, expected_n FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber,
        |      l_partkey, l_suppkey, l_quantity, l_extendedprice) AS INT) AS expected_n
        |  FROM lineitem) x
        |WHERE l_linenumber <> expected_n
        |ORDER BY l_orderkey, expected_n""".stripMargin,

    "w4_batcher" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    CAST(CEIL(CEIL(LENGTH(text) / 4.0) * 2.8) + 1 AS BIGINT) AS cost,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |walk(rn, batch, running) AS (
        |  SELECT 1, CAST(0 AS BIGINT), 25 + cost FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.rn,
        |    CASE WHEN w.running + b.cost > 500 THEN w.batch + 1 ELSE w.batch END,
        |    CASE WHEN w.running + b.cost > 500 THEN 25 + b.cost
        |         ELSE w.running + b.cost END
        |  FROM walk w JOIN base b ON b.rn = w.rn + 1)
        |SELECT b.doc_id, w.batch AS batch_index,
        |  printf('batch-%04d', w.batch + 1) AS custom_id
        |FROM base b JOIN walk w ON b.rn = w.rn ORDER BY b.doc_id""".stripMargin,

    // parallel W4: greedy walk PER 4-way pos-range part (the recursion
    // steps every part at once), then global ids = per-part batch +
    // cumulative earlier-part batch counts — the same stitching as
    // Batching.packAndStitch pass 1 + 2
    "w4_batcher_par" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, cost,
        |    ((rn - 1) * 4) // n AS part,
        |    row_number() OVER (PARTITION BY ((rn - 1) * 4) // n
        |      ORDER BY rn) AS prn
        |  FROM (
        |    SELECT doc_id,
        |      CAST(CEIL(CEIL(LENGTH(text) / 4.0) * 2.8) + 1 AS BIGINT) AS cost,
        |      row_number() OVER (ORDER BY doc_id) AS rn,
        |      COUNT(*) OVER () AS n
        |    FROM documents)),
        |walk(part, prn, batch, running) AS (
        |  SELECT part, CAST(1 AS BIGINT), CAST(0 AS BIGINT), 25 + cost
        |  FROM base WHERE prn = 1
        |  UNION ALL
        |  SELECT b.part, b.prn,
        |    CASE WHEN w.running + b.cost > 500 THEN w.batch + 1 ELSE w.batch END,
        |    CASE WHEN w.running + b.cost > 500 THEN 25 + b.cost
        |         ELSE w.running + b.cost END
        |  FROM walk w JOIN base b ON b.part = w.part AND b.prn = w.prn + 1),
        |offs AS (
        |  SELECT part, CAST(COALESCE(SUM(nb) OVER (ORDER BY part
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM (SELECT part, MAX(batch) + 1 AS nb FROM walk GROUP BY part))
        |SELECT b.doc_id, w.batch + o.off AS batch_index,
        |  printf('batch-%04d', w.batch + o.off + 1) AS custom_id
        |FROM base b
        |JOIN walk w ON b.part = w.part AND b.prn = w.prn
        |JOIN offs o ON b.part = o.part
        |ORDER BY b.doc_id""".stripMargin,

    "o2_first_n_per_class" ->
      """SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
        |  FROM events) x
        |WHERE rn <= 10 ORDER BY event_type, event_id""".stripMargin,

    "w_tumbling_counts" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS w_start,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // gaps-and-islands: a session breaks only when the gap EXCEEDS 30 min
    // (session_window merges an event arriving exactly gap after the last)
    "w5_session_stats" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, epoch_us(MIN(ts)) AS first_us, epoch_us(MAX(ts)) AS last_us,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, first_us""".stripMargin,

    "f2_fence_strip" ->
      "SELECT doc_id, text AS cleaned FROM documents ORDER BY doc_id",

    "f3_fence_aggressive" ->
      """SELECT doc_id, text || chr(10) || 'EXTRA' || chr(10) || text AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f4_multiline_fences" ->
      """SELECT doc_id, CAST(doc_id AS VARCHAR) AS description_id,
        |  text AS translation FROM documents ORDER BY doc_id""".stripMargin,

    "f5_quote_cleanup" ->
      """SELECT doc_id, CAST(doc_id AS VARCHAR) AS description_id,
        |  text AS translation FROM documents ORDER BY doc_id""".stripMargin,

    "f8_truncation_flag" ->
      """SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS truncated
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f9_repair" ->
      "SELECT doc_id, text AS recovered FROM documents ORDER BY doc_id",

    "f11_fenced_extract" ->
      "SELECT doc_id, text AS value FROM documents ORDER BY doc_id",

    "f13_custom_id" ->
      """SELECT o_orderkey, printf('batch-%04d', o_orderkey % 997) AS custom_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f14_file_stem" ->
      """SELECT doc_id, source || '_' || doc_id AS stem FROM documents
        |ORDER BY doc_id""".stripMargin,

    "f15_epoch_display" ->
      """SELECT event_id,
        |  strftime(epoch_ms((1500000000 + event_id * 37) * 1000),
        |    '%Y-%m-%d %H:%M:%S') AS shown
        |FROM events ORDER BY event_id""".stripMargin,

    "f16_job_id" ->
      """SELECT event_id, 'batch_u' || user_id || 'e' || event_id AS job_id
        |FROM events ORDER BY event_id""".stripMargin,

    "f17_numbering_strip" ->
      "SELECT doc_id, text AS stripped FROM documents ORDER BY doc_id",

    "f18_telugu" ->
      """SELECT doc_id, CAST(regexp_matches(
        |  CASE WHEN doc_id % 5 = 0 THEN text || ' తెలుగు' ELSE text END,
        |  '[\x{0C00}-\x{0C7F}]') AS INT) AS has_telugu
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f19_truncate_display" ->
      """SELECT doc_id, CASE WHEN LENGTH(text) > 40
        |  THEN SUBSTRING(text, 1, 40) || '...' ELSE text END AS shown
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f20_rates" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    * 100.0 / COUNT(*), 2) AS pct_f
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
