package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.core.{Caches, Schemas}
import graft.operators.Reconcile

/** `Reconcile.reconcile`, `missing`, `extra` and `summary` against the
  * plain formulation, computed inline: J1 as a left-outer join of the
  * expected rows with the translations, J3 as a left-anti join, and the
  * summary as the shift window, one aggregate over its rows and the
  * extra rows' count cross-joined in. Both the shared path (extra over
  * the frames of an earlier reconcile) and a lone extra are checked, on
  * generated batches with repeated, blank, null and ghost ids, duplicate
  * responses and a response for a batch nobody asked for.
  */
class ReconcileEquivalenceSpec extends SparkSpec {

  private val Keys = Seq("custom_id", "description_id")

  private def plainReconcile(expected: DataFrame, tr: DataFrame): DataFrame =
    expected.join(tr, Keys, "left_outer")
      .withColumn("translated_sentence",
        coalesce(col("translation"), lit(Schemas.FailedSentinel)))

  private def plainExtra(expected: DataFrame, tr: DataFrame): DataFrame =
    tr.join(expected, Keys, "left_anti")

  private def plainSummary(rec: DataFrame, ext: DataFrame): DataFrame = {
    val w = Window.partitionBy("custom_id").orderBy("pos")
    val bad: Column => Column = c => c === Schemas.FailedSentinel
    val flagged = rec
      .withColumn("next_t", lead(col("translated_sentence"), 1).over(w))
      .withColumn("prev_t", lag(col("translated_sentence"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_rows", count(lit(1)).over(Window.partitionBy("custom_id")))
      .withColumn("shift_suspected",
        (bad(col("translated_sentence")) && col("next_t").isNotNull && !bad(col("next_t"))) ||
        (col("rn") === col("n_rows") && bad(col("translated_sentence")) &&
          col("prev_t").isNotNull && !bad(col("prev_t"))))
    val ok = sum(when(col("translated_sentence") =!= Schemas.FailedSentinel, 1L).otherwise(0L))
    flagged.agg(
      count(lit(1)).as("total"),
      ok.as("successful"),
      (count(lit(1)) - ok).as("failed"),
      sum(when(col("shift_suspected"), 1L).otherwise(0L)).as("shift_suspected"),
      round(ok * lit(100.0) / count(lit(1)), 2).as("success_rate"))
      .crossJoin(ext.agg(count(lit(1)).as("extra")))
  }

  /** Column names and types, and the rows as a multiset. */
  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType), what)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(got) === rows(want), what)
  }

  private val Ids = Vector("1", "2", "3", "4", "5", "", null)
  private val Words = Vector("valve", "sensor", "pump", "relay", "circuit", "fuel")

  private val expectedSchema = StructType(Seq(StructField("custom_id", StringType),
    StructField("pos", LongType), StructField("description_id", StringType),
    StructField("english_sentence", StringType)))
  private val responseSchema = StructType(Seq(StructField("custom_id", StringType),
    StructField("status_code", LongType), StructField("content", StringType),
    StructField("error", StringType)))

  /** A batch set from `seed`: each batch's ids repeat, go blank or null;
    * its responses (zero to three, the last one winning) name some of
    * them, ghost ids, or nothing parseable. Fixed rows make sure every
    * seed has each case, and a response for a batch with no rows.
    */
  private def fixture(seed: Int): (DataFrame, DataFrame) = {
    val r = new scala.util.Random(seed)
    def word = Words(r.nextInt(Words.size))
    var pos = 0L
    val batches = (1 to 2 + r.nextInt(4)).map(b => f"batch-$b%04d")
    val expected = batches.flatMap { b =>
      Seq.fill(1 + r.nextInt(6)) {
        pos += 1; Row(b, pos, Ids(r.nextInt(Ids.size)), s"$word $word $pos")
      }
    } ++ Seq(
      Row("batch-0001", 1000L, "7", "repeated id first"),
      Row("batch-0001", 1001L, "7", "repeated id second"),
      Row("batch-0001", 1002L, "", "blank id"),
      Row("batch-0001", 1003L, null, "null id"))
    def content(b: String): String = r.nextInt(6) match {
      case 0 => null
      case 1 => "<<<garbage>>>"
      case _ =>
        val ids = Seq.fill(1 + r.nextInt(5))(Ids(r.nextInt(Ids.size - 1))) ++
          (if (r.nextBoolean()) Seq("ghost-id") else Nil)
        ids.map(i => "\"" + i + "\": \"" + s"$word $word\"").mkString("{", ", ", "}")
    }
    val responses = (batches ++ batches.filter(_ => r.nextBoolean())).map(b =>
      Row(b, 200L, content(b), null)) ++ Seq(
      Row("batch-0001", 200L, """{"7": "seven first", "": "blank value"}""", null),
      Row("batch-0001", 200L, """{"7": "seven last", "ghost-id": "spurious"}""", null),
      Row("batch-0099", 200L, """{"1": "nobody asked"}""", null))
    (frame(expected, expectedSchema), frame(responses, responseSchema))
  }

  test("reconcile, missing, extra and summary equal the left-outer / left-anti joins") {
    (1 to 8).foreach { seed =>
      val (expected, responses) = fixture(seed)
      val tr = Reconcile.translations(responses)
      val (rec, ext) = (Reconcile.reconcile(expected, tr), Reconcile.extra(expected, tr))
      val (pRec, pExt) = (plainReconcile(expected, tr), plainExtra(expected, tr))
      same(rec, pRec, s"reconcile, seed $seed")
      same(Reconcile.missing(rec), Reconcile.missing(pRec), s"missing, seed $seed")
      same(ext, pExt, s"extra, seed $seed")
      same(Reconcile.summary(rec, ext), plainSummary(pRec, pExt), s"summary, seed $seed")
      assert(ext.filter(col("custom_id") === "batch-0099").count() === 1)
      // a lone extra, over fresh frames
      val (e2, r2) = fixture(seed)
      same(Reconcile.extra(e2, Reconcile.translations(r2)), pExt, s"lone extra, seed $seed")
      Caches.release()
    }
  }

  test("extra over key-only expected rows, shared or alone, with duplicate translations") {
    import spark.implicits._
    val expected = Seq(("b1", "1"), ("b1", "2"), ("b1", ""), ("b2", "1"), ("b2", null))
      .toDF("custom_id", "description_id")
    val tr = Seq(("b1", "1", "one"), ("b1", "x1", "planted"), ("b1", "x1", "planted again"),
      ("b1", "", "blank"), ("b2", null, "null id"), ("b3", "1", "no batch"))
      .toDF("custom_id", "description_id", "translation")
    val want = plainExtra(expected, tr)
    same(Reconcile.extra(expected, tr), want, "alone")
    val rec = Reconcile.reconcile(expected, tr)
    same(Reconcile.extra(expected, tr), want, "shared")
    same(rec, plainReconcile(expected, tr), "reconcile")
    assert(want.count() === 4)
    Caches.release()
  }

  test("extra keeps the translation columns when expected shares a column name") {
    import spark.implicits._
    val expected = Seq(("b1", "1", "expected note", "ignored"), ("b1", "2", "other", "x"))
      .toDF("custom_id", "description_id", "note", "translation")
    val tr = Seq(("tr note", "b1", "one", "1"), ("ghost note", "b1", "nine", "9"))
      .toDF("note", "custom_id", "translation", "description_id")
    val noted = expected.drop("translation")
    val rec = Reconcile.reconcile(noted, tr)
    same(rec, plainReconcile(noted, tr), "reconcile")
    val ext = Reconcile.extra(noted, tr)
    same(ext, plainExtra(noted, tr), "shared")
    assert(ext.collect().map(_.toSeq) === Array(Seq("b1", "9", "ghost note", "nine")))
    same(Reconcile.extra(expected, tr), plainExtra(expected, tr), "alone")
    Caches.release()
  }

  private def frame(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** `summary` over the shared frames equals the plain formula; returns
    * its one row. */
  private def summaryOf(expected: Seq[Row], translations: Seq[(String, String, String)],
                        what: String): Seq[Any] = {
    import spark.implicits._
    val ex = frame(expected, expectedSchema)
    val tr = translations.toDF("custom_id", "description_id", "translation")
    val (rec, ext) = (Reconcile.reconcile(ex, tr), Reconcile.extra(ex, tr))
    val got = Reconcile.summary(rec, ext)
    same(got, plainSummary(plainReconcile(ex, tr), plainExtra(ex, tr)), what)
    val rows = got.collect()
    Caches.release()
    assert(rows.length === 1, what)
    rows(0).toSeq
  }

  test("summary on edge batches: one row, a failed last row, no expected rows, no extras") {
    // (total, successful, failed, shift_suspected, success_rate, extra)
    assert(summaryOf(Seq(Row("b1", 1L, "1", "one")), Nil, "one-row batch") ===
      Seq(1L, 0L, 1L, 0L, 0.0, 0L))
    assert(summaryOf(Seq(Row("b1", 1L, "1", "one"), Row("b1", 2L, "2", "two")),
      Seq(("b1", "1", "eins")), "failed last row after a healthy one") ===
      Seq(2L, 1L, 1L, 1L, 50.0, 0L))
    assert(summaryOf(Seq(Row("b1", 1L, "1", "one")),
      Seq(("b1", "1", "eins"), ("b9", "1", "nobody asked"), ("b9", "2", "nor this")),
      "a batch with no expected rows") === Seq(1L, 1L, 0L, 0L, 100.0, 2L))
    assert(summaryOf(Seq(Row("b1", 1L, "1", "one"), Row("b1", 2L, "2", "two"),
      Row("b2", 3L, "3", "three")), Seq(("b1", "2", "zwei"), ("b2", "3", "drei")),
      "zero extra rows") === Seq(3L, 2L, 1L, 1L, 66.67, 0L))
  }

  test("summary with zero expected rows, and over empty input") {
    // no reconciled rows: the count is 0 and every sum over them is null
    assert(summaryOf(Nil, Seq(("b1", "1", "eins"), ("b1", "2", "zwei")),
      "zero expected rows") === Seq(0L, null, null, null, null, 2L))
    assert(summaryOf(Nil, Nil, "empty input") === Seq(0L, null, null, null, null, 0L))
  }
}
