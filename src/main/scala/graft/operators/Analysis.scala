package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.functions.ParseFunctions

/** The error-analysis pass (SURVEY.md §3.2, A4) — the reference's whole
  * `analyze` mode (auto_translate.py:1137-1636) as one declarative
  * DataFrame pass: every response row gets an `outcome` class, each error
  * bucket is a filter view over the classified frame, the rollup and the
  * summary are one counting pass each, and derived rates follow
  * auto_translate.py:1504-1543.
  *
  * Input shape: the flat response table (custom_id, status_code, content,
  * error) produced by JsonlIO.readResponses.
  *
  * Scale notes: classification is a single projection (no shuffle). The
  * rollup and the summary each count the classes in one pass with no
  * exchange: every partition's partial counts reach the driver as
  * observed metrics of a noop write, one Spark job per report, and the
  * report is a local frame projected from those counts.
  */
object Analysis {

  /** Outcome classes, in routing order (P6 http → P5 empty → F6 parse →
    * F9 repair → F7 fallback → unparseable), mirroring the reference's
    * continue-chain at auto_translate.py:1247-1485.
    */
  val outcomes: Seq[String] = Seq(
    "http_error", "missing_content", "empty_content",
    "parsed_json", "repaired", "fallback_lines", "unparseable")

  /** Classify each response row (adds `outcome`). The parse strategies are
    * materialized once per row as stage columns (VERDICT r2 #1) — the
    * outcome is then a cheap null-check chain over them, not a re-inlined
    * copy of the whole strategy tree.
    */
  def classify(flat: DataFrame): DataFrame = {
    import ParseFunctions._
    withParseStages(flat, col("content"))
      .withColumn("outcome",
        when(col("status_code").isNotNull && col("status_code") =!= 200, "http_error")
          .otherwise(outcomeFromStages(col("content"),
            col(ParsedCol), col(RepairedCol), col(FallbackCol))))
      .drop(ParsedCol, RepairedCol, FallbackCol)
  }

  /** The total and one count per class of `outcomes`, in one Spark job
    * that ships no rows: an `Observation` on the classified frame, driven
    * by a noop write, merges each partition's partial counts on the
    * driver, so no exchange gathers them.
    */
  private def outcomeCounts(flat: DataFrame): (Long, Seq[Long]) = {
    val seen = Observation()
    classify(flat).observe(seen, count(lit(1)).as("total"),
      outcomes.map(o => count_if(col("outcome") === o).as(o)): _*)
      .write.format("noop").mode("overwrite").save()
    val row = seen.get
    (row("total").asInstanceOf[Long], outcomes.map(row(_).asInstanceOf[Long]))
  }

  /** `rows` as a local frame: a projection over it is evaluated on the
    * driver, so reading it runs no Spark job. */
  private def local(flat: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame =
    flat.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A4 — rollup: one row per outcome class present, with count and
    * share (%). Eager: the counting pass ([[outcomeCounts]]) runs here,
    * and the returned frame is a local projection of its counts.
    */
  def rollup(flat: DataFrame): DataFrame = {
    val (total, ns) = outcomeCounts(flat)
    local(flat, StructType(Seq(StructField("outcome", StringType, nullable = false),
        StructField("n", LongType, nullable = false))),
      outcomes.zip(ns).collect { case (o, n) if n > 0 => Row(o, n) })
      .select(col("outcome"), col("n"),
        round(col("n") * lit(100.0) / lit(total), 2).as("pct"))
  }

  /** Summary of derived rates (auto_translate.py:1504-1543): repairable
    * failures are rows that reached the parse cascade and missed the cheap
    * JSON path; repair_rate is repairs over those failures; the effective
    * rate counts every recovered row. Eager, like [[rollup]]; over no rows
    * each class count is null, as a `sum` over no rows is.
    */
  def summary(flat: DataFrame): DataFrame = {
    val (total, ns) = outcomeCounts(flat)
    val counts = local(flat, StructType(StructField("total", LongType, nullable = false) +:
        outcomes.map(StructField(_, LongType))),
      Seq(Row.fromSeq(total +: ns.map(n => if (total == 0) null else n))))
    counts.select(
      col("total"),
      col("parsed_json").as("successful"),
      col("repaired"),
      col("fallback_lines").as("fallback"),
      (col("http_error") + col("missing_content") + col("empty_content") +
        col("unparseable")).as("failed"),
      round(col("parsed_json") * lit(100.0) / col("total"), 2).as("success_rate"),
      round(col("repaired") * lit(100.0) /
        greatest(col("repaired") + col("fallback_lines") + col("unparseable"), lit(1L)), 2)
        .as("repair_rate"),
      round((col("parsed_json") + col("repaired") + col("fallback_lines")) * lit(100.0)
        / col("total"), 2).as("effective_success_rate"))
  }
}
