package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Caches, Schemas}
import graft.functions.ParseFunctions

/** The reconciliation core (SURVEY.md §2.3 J1/J3/J4, §2.4 A3/A9, §2.5
  * W1/W2) — the heart of the reference pipeline
  * (auto_translate.py:904-1134): join parsed translations back to the
  * expected rows of each batch, sentinel the failures, and flag missing /
  * extra / shifted values.
  *
  * Scale notes: one join serves the output and all three reports. The
  * expected rows, marked, are full-outer joined with the translations on
  * (custom_id, description_id): the marked rows are J1's left-outer join,
  * the unmarked ones J3's left-anti join. [[extra]] over the frames of an
  * earlier [[reconcile]] call persists that join, so the output, missing,
  * extra and summary frames all read one cache and the parse cascade and
  * the join run once per batch set. A frame read alone pays no cache
  * fill: a lone [[reconcile]] plans as a left-outer join (its filter on
  * the marker rejects the rows the full outer join adds) and a lone
  * [[extra]] is a left-anti join. The reference's O(n²) nested-loop
  * English lookup (auto_translate.py:972-974) disappears into a hash join.
  */
object Reconcile {

  /** Extract last-wins (custom_id, description_id, translation) rows from
    * raw response content (A9, auto_translate.py:514-518): the parse
    * cascade yields a map; duplicate ids within one response keep the last
    * occurrence; duplicate custom_id response rows keep the last response
    * in scan order (resp_ord breaks the tie BEFORE entry_pos so entries of
    * different responses never interleave non-deterministically).
    *
    * If `responses` already carries a `resp_ord` column it is used as-is —
    * JsonlIO.readResponses stamps one directly over the file scan, which
    * is the reproducible choice (ADVICE r2: an id minted here is only
    * stable when `responses` is a deterministic scan with no upstream
    * exchange; sources should stamp their own sequence).
    */
  def translations(responses: DataFrame): DataFrame = {
    (if (responses.columns.contains("resp_ord")) responses
     else responses.withColumn("resp_ord", monotonically_increasing_id()))
      .select(col("custom_id"), col("resp_ord"),
        ParseFunctions.parseCascade(col("content")).as("tmap"))
      .filter(col("tmap").isNotNull)
      .select(col("custom_id"), col("resp_ord"), posexplode(map_entries(col("tmap"))))
      .select(col("custom_id"), col("resp_ord"), col("pos").as("entry_pos"),
        col("col.key").as("description_id"), col("col.value").as("translation"))
      .filter(trim(col("translation")) =!= "")
      .groupBy("custom_id", "description_id")
      .agg(max_by(col("translation"), struct(col("resp_ord"), col("entry_pos")))
        .as("translation"))
  }

  private val Keys = Seq("custom_id", "description_id")

  /** Set on every expected row of [[joined]]; null on a translation row
    * that matched none. */
  private val Expected = "__expected"

  /** `translationRows`' non-key columns, paired with their names inside
    * [[joined]], where they cannot collide with an expected column. */
  private def renamed(translationRows: DataFrame): Seq[(String, String)] =
    translationRows.columns.toSeq.filterNot(Keys.contains).zipWithIndex
      .map { case (c, i) => c -> s"__t$i" }

  /** Per translation frame, the expected frame that [[reconcile]] last
    * joined it with; weak both ways, so an entry goes with its frames. */
  private val lastReconciled =
    new java.util.WeakHashMap[DataFrame, java.lang.ref.WeakReference[DataFrame]]()

  /** The one reconcile join: marked `expected` full-outer joined with
    * `translationRows` on (custom_id, description_id). Marked rows are
    * J1's left-outer join, unmarked ones J3's left-anti join. */
  private def joined(expected: DataFrame, translationRows: DataFrame): DataFrame =
    expected.withColumn(Expected, lit(true))
      .join(translationRows.select(Keys.map(col) ++ renamed(translationRows)
        .map { case (c, t) => col(c).as(t) }: _*), Keys, "full_outer")

  /** J1 — reconciliation left-outer join + sentinel
    * (auto_translate.py:971-999). `expected` columns: custom_id, pos,
    * description_id, english_sentence. The marked rows of [[joined]]:
    * read alone, a left-outer join; once [[extra]] over the same two
    * frames has persisted the join, a read of that cache, which lives
    * until `Caches.release()` or the end of the enclosing
    * `Caches.scoped`.
    */
  def reconcile(expected: DataFrame, translationRows: DataFrame): DataFrame = {
    lastReconciled.synchronized {
      lastReconciled.put(translationRows, new java.lang.ref.WeakReference(expected))
    }
    joined(expected, translationRows)
      .filter(col(Expected).isNotNull)
      .select(Keys.map(col) ++ expected.columns.filterNot(Keys.contains).map(col) ++
        renamed(translationRows).map { case (c, t) => col(t).as(c) }: _*)
      .withColumn("translated_sentence",
        coalesce(col("translation"), lit(Schemas.FailedSentinel)))
  }

  /** J4 — expected ids with no translation (auto_translate.py:977-992). */
  def missing(reconciled: DataFrame): DataFrame =
    reconciled.filter(col("translation").isNull)
      .select("custom_id", "pos", "description_id", "english_sentence")

  /** J3 — translations whose id is not in the batch's expected set
    * (auto_translate.py:1007-1009): the key columns, then
    * `translationRows`' others. Over the same two frames as an earlier
    * [[reconcile]] call, the unmarked rows of [[joined]], which this call
    * persists (`Caches.persist`) for the output, missing, extra and
    * summary frames to share until `Caches.release()` or the end of the
    * enclosing `Caches.scoped`. Otherwise a left-anti join: a lone reader
    * pays no cache fill.
    */
  def extra(expected: DataFrame, translationRows: DataFrame): DataFrame = {
    val shared = lastReconciled.synchronized {
      Option(lastReconciled.get(translationRows)).exists(_.get eq expected)
    }
    if (!shared) translationRows.join(expected, Keys, "left_anti")
    else Caches.persist(joined(expected, translationRows))
      .filter(col(Expected).isNull)
      .select(Keys.map(col) ++
        renamed(translationRows).map { case (c, t) => col(t).as(c) }: _*)
  }

  /** W1/W2 — shift detection (auto_translate.py:1012-1032): within a batch
    * in input order, a failed row followed by a healthy one (or a failed
    * final row preceded by a healthy one) suggests the model shifted
    * values by one position.
    */
  def shiftFlags(reconciled: DataFrame): DataFrame = {
    val w = Window.partitionBy("custom_id").orderBy("pos")
    val bad: Column => Column = c => c === Schemas.FailedSentinel
    reconciled
      .withColumn("next_t", lead(col("translated_sentence"), 1).over(w))
      .withColumn("prev_t", lag(col("translated_sentence"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_rows", count(lit(1)).over(Window.partitionBy("custom_id")))
      .withColumn("shift_suspected",
        (bad(col("translated_sentence")) && col("next_t").isNotNull && !bad(col("next_t"))) ||
        (col("rn") === col("n_rows") && bad(col("translated_sentence")) &&
          col("prev_t").isNotNull && !bad(col("prev_t"))))
      .drop("next_t", "prev_t", "rn", "n_rows")
  }

  /** A3 — pipeline scalar aggregates (auto_translate.py:955-960, 1070-1076).
    * One lazy global aggregate over the shift-flagged rows unioned with
    * `extraRows`, each marked, so the extra count rides the same pass as
    * the other totals; no eager `.count()` action at plan-build time
    * (VERDICT r1 §wrong #4).
    */
  def summary(reconciled: DataFrame, extraRows: DataFrame): DataFrame = {
    val isExtra = "__extra"
    def rows(c: Column): Column = when(!col(isExtra), c)
    val ok = sum(rows(when(col("translated_sentence") =!= Schemas.FailedSentinel, 1L)
      .otherwise(0L)))
    val total = count(rows(lit(1)))
    shiftFlags(reconciled)
      .select(col("translated_sentence"), col("shift_suspected"), lit(false).as(isExtra))
      .unionByName(extraRows.select(lit(null).cast("string").as("translated_sentence"),
        lit(null).cast("boolean").as("shift_suspected"), lit(true).as(isExtra)))
      .agg(
        total.as("total"),
        ok.as("successful"),
        (total - ok).as("failed"),
        sum(rows(when(col("shift_suspected"), 1L).otherwise(0L))).as("shift_suspected"),
        round(ok * lit(100.0) / total, 2).as("success_rate"),
        count_if(col(isExtra)).as("extra"))
  }

  /** Full reconcile pass: returns (result, missing, extra, summary). */
  def run(expected: DataFrame, responses: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tr = translations(responses)
    val rec = reconcile(expected, tr)
    val ext = extra(expected, tr)
    (rec.select("pos", "description_id", "english_sentence", "translated_sentence"),
      missing(rec), ext, summary(rec, ext))
  }
}
