package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ParseFunctions

/** The error-analysis pass (SURVEY.md §3.2, A4) — the reference's whole
  * `analyze` mode (auto_translate.py:1137-1636) as one declarative
  * DataFrame pass: every response row gets an `outcome` class, each error
  * bucket is a filter view over the classified frame, the rollup is one
  * aggregation, and derived rates follow auto_translate.py:1504-1543.
  *
  * Input shape: the flat response table (custom_id, status_code, content,
  * error) produced by JsonlIO.readResponses.
  *
  * Scale notes: classification is a single projection (no shuffle); the
  * rollup and the summary are each one global aggregate, partial per
  * partition, so one row per partition crosses the shuffle.
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

  /** A4 — rollup: one row per outcome class present, with count and
    * share (%). One global aggregate counts every class and the total,
    * so no second exchange gathers the total.
    */
  def rollup(flat: DataFrame): DataFrame =
    classify(flat)
      .agg(count(lit(1)).as("total"), array(outcomes.map(o =>
        struct(lit(o).as("outcome"), count_if(col("outcome") === o).as("n"))): _*)
        .as("classes"))
      .select(col("total"), explode(col("classes")).as("c"))
      .select(col("c.outcome").as("outcome"), col("c.n").as("n"),
        round(col("c.n") * lit(100.0) / col("total"), 2).as("pct"))
      .filter(col("n") > 0)

  /** Summary of derived rates (auto_translate.py:1504-1543): repairable
    * failures are rows that reached the parse cascade and missed the cheap
    * JSON path; repair_rate is repairs over those failures; the effective
    * rate counts every recovered row.
    */
  def summary(flat: DataFrame): DataFrame = {
    val c = classify(flat)
    def n(o: String): Column = sum(when(col("outcome") === o, 1L).otherwise(0L))
    c.agg(
      count(lit(1)).as("total"),
      n("parsed_json").as("successful"),
      n("repaired").as("repaired"),
      n("fallback_lines").as("fallback"),
      (n("http_error") + n("missing_content") + n("empty_content") +
        n("unparseable")).as("failed"),
      round(n("parsed_json") * lit(100.0) / count(lit(1)), 2).as("success_rate"),
      round(n("repaired") * lit(100.0) /
        greatest(n("repaired") + n("fallback_lines") + n("unparseable"), lit(1L)), 2)
        .as("repair_rate"),
      round((n("parsed_json") + n("repaired") + n("fallback_lines")) * lit(100.0)
        / count(lit(1)), 2).as("effective_success_rate"))
  }
}
