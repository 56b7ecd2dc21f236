package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the GPT-3/PaLM-style n-gram overlap pass
  * every serious pre-training pipeline runs: flag (and drop) training
  * documents that share at least one word n-gram with an evaluation
  * corpus, so benchmark answers cannot leak into training data. The
  * classic setting is a 8-13 word window; the default here is 8.
  *
  * Scale design: the two sides are wildly asymmetric — a benchmark suite
  * is MBs while the corpus is the 100 TB side — so the benchmark
  * collapses to ONE row holding its sorted distinct n-gram array
  * (a single small agg), which joins the corpus by a broadcast crossJoin
  * of that 1-row frame. Flagging is
  * then a pure `arrays_overlap` projection inside the corpus scan:
  * zero shuffle, zero state, embarrassingly parallel. For a benchmark
  * too large for one array (hundreds of millions of distinct n-grams),
  * switch to the explode + broadcast left-semi join on the shingle
  * column instead — same semantics, one extra corpus-side explode.
  *
  * N-grams come from [[MinHashLSH.wordShingles]] (native expression;
  * whitespace tokens, first-occurrence-distinct, short texts yield their
  * single sub-n window), so the DuckDB oracle replays flags exactly.
  */
object Decontaminate {

  /** The benchmark's distinct n-gram set as a 1-row, 1-column frame
    * (`bench_sh`: sorted array<string>), ready to broadcast.
    */
  def benchmarkShingles(bench: DataFrame, textCol: String,
                        n: Int = 8): DataFrame =
    bench
      .filter(col(textCol).isNotNull)
      .select(explode(MinHashLSH.wordShingles(col(textCol), n)).as("sh"))
      .agg(array_sort(collect_set(col("sh"))).as("bench_sh"))

  /** All of `docs` plus a `contaminated` boolean: true iff the document
    * shares at least one word n-gram with the benchmark. Null text is
    * never contaminated.
    */
  def withContaminationFlag(docs: DataFrame, textCol: String,
                            bench: DataFrame, benchTextCol: String,
                            n: Int = 8): DataFrame =
    docs
      .crossJoin(broadcast(benchmarkShingles(bench, benchTextCol, n)))
      .withColumn("contaminated",
        col(textCol).isNotNull &&
          arrays_overlap(MinHashLSH.wordShingles(col(textCol), n),
            col("bench_sh")))
      .drop("bench_sh")

  /** The decontaminated corpus: documents with no n-gram overlap with the
    * benchmark (null-text rows survive — they cannot leak anything).
    */
  def decontaminate(docs: DataFrame, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame =
    withContaminationFlag(docs, textCol, bench, benchTextCol, n)
      .filter(!col("contaminated"))
      .drop("contaminated")
}
