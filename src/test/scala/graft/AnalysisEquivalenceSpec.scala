package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.Analysis

/** `Analysis.rollup` and `Analysis.summary` against the plain formulation,
  * computed inline: global aggregates over the classified responses. Names,
  * types and rows must agree on generated response mixes that cover every
  * outcome class, on all-HTTP-error and all-null-content inputs, and on an
  * empty frame.
  */
class AnalysisEquivalenceSpec extends SparkSpec {

  private def plainRollup(flat: DataFrame): DataFrame =
    Analysis.classify(flat)
      .agg(count(lit(1)).as("total"), array(Analysis.outcomes.map(o =>
        struct(lit(o).as("outcome"), count_if(col("outcome") === o).as("n"))): _*)
        .as("classes"))
      .select(col("total"), explode(col("classes")).as("c"))
      .select(col("c.outcome").as("outcome"), col("c.n").as("n"),
        round(col("c.n") * lit(100.0) / col("total"), 2).as("pct"))
      .filter(col("n") > 0)

  private def plainSummary(flat: DataFrame): DataFrame = {
    def n(o: String): Column = sum(when(col("outcome") === o, 1L).otherwise(0L))
    Analysis.classify(flat).agg(
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

  /** Column names and types, and the rows as a multiset. */
  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType), what)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(got) === rows(want), what)
  }

  private def check(flat: DataFrame, what: String): Unit = {
    same(Analysis.rollup(flat), plainRollup(flat), s"rollup, $what")
    same(Analysis.summary(flat), plainSummary(flat), s"summary, $what")
  }

  private val responseSchema = StructType(Seq(StructField("custom_id", StringType),
    StructField("status_code", LongType), StructField("content", StringType),
    StructField("error", StringType)))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), responseSchema)

  private val Words = Vector("valve", "sensor", "pump", "relay", "circuit", "fuel")

  /** One response body per outcome class a 200 row can reach. */
  private def body(r: scala.util.Random, kind: Int): String = {
    def word = Words(r.nextInt(Words.size))
    kind match {
      case 0 => null                                              // missing_content
      case 1 => if (r.nextBoolean()) "" else "   "                // empty_content
      case 2 => s"""{"${r.nextInt(9)}": "$word $word"}"""         // parsed_json
      case 3 => s"```json\n{\"${r.nextInt(9)}\": \"$word\"}\n```" // parsed_json
      case 4 => s"""{"1": "$word $word", "2": "$word"""           // repaired
      case 5 => s"${r.nextInt(9)}. $word $word"                   // fallback_lines
      case _ => "<<<garbage>>>"                                   // unparseable
    }
  }

  /** A mix from `seed`: statuses 200, null, 404 or 500 over every body
    * kind; a fixed row of each kind makes sure every class appears. */
  private def mix(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val status = Vector[java.lang.Long](200L, 200L, 200L, null, 404L, 500L)
    val fixed = (0 until 7).map(k => Row(s"fixed-$k", 200L, body(r, k), null)) :+
      Row("fixed-http", 500L, body(r, 2), "server error")
    frame(fixed ++ (0 until r.nextInt(40)).map(i => Row(f"batch-$i%04d",
      status(r.nextInt(status.size)), body(r, r.nextInt(7)), null)))
  }

  test("rollup and summary equal the plain aggregates on generated response mixes") {
    (1 to 6).foreach { seed =>
      val flat = mix(seed)
      assert(Analysis.classify(flat).select("outcome").distinct().count() ===
        Analysis.outcomes.size, s"every class, seed $seed")
      check(flat, s"seed $seed")
    }
  }

  test("rollup and summary equal the plain aggregates when every row is an HTTP error") {
    val flat = frame((0 until 5).map(i => Row(s"b$i", 500L, s"""{"$i": "x"}""", "boom")))
    check(flat, "all http_error")
    assert(Analysis.rollup(flat).collect().map(_.toSeq) ===
      Array(Seq("http_error", 5L, 100.0)))
    assert(Analysis.summary(flat).collect()(0).getAs[Double]("repair_rate") === 0.0)
  }

  test("rollup and summary equal the plain aggregates over null content") {
    val flat = frame((0 until 3).map(i => Row(s"b$i", 200L, null, null)))
    check(flat, "null content")
    assert(Analysis.rollup(flat).collect().map(_.toSeq) ===
      Array(Seq("missing_content", 3L, 100.0)))
  }

  test("rollup and summary equal the plain aggregates over an empty frame") {
    val flat = frame(Nil)
    check(flat, "empty")
    assert(Analysis.rollup(flat).collect().isEmpty)
    // as a sum over no rows, every class count and rate is null
    assert(Analysis.summary(flat).collect().map(_.toSeq) ===
      Array(Seq(0L, null, null, null, null, null, null, null)))
  }
}
