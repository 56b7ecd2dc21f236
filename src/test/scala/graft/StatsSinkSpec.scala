package graft

import org.apache.spark.sql.functions._
import graft.streaming.StatsSink

/** Incremental corpus statistics: per-batch partial-aggregate segments,
  * committed under their batch ids, must fold to exactly the one-shot
  * aggregate, under any batching, with compaction invisible to totals.
  */
class StatsSinkSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = s"/tmp/graft_test/stats_$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "un deux", "fr"),
      (3L, "one two three four", "en"),
      (4L, "eins", "de"),
      (5L, "cinq six sept", "fr"),
      (6L, null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("doc_id", "text", "lang")
  }

  private def totals(dir: String): Map[String, (Long, Long, Long)] =
    StatsSink.readCommitted(spark, dir).collect().map { r =>
      (if (r.isNullAt(0)) "∅" else r.getString(0)) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
    }.toMap

  /** `docs` split into 3 batches by doc_id % 3, committed as b0..b2. */
  private def fold3(dir: String): Unit =
    (0L until 3L).foreach { i =>
      StatsSink.appendCommitted(docs.filter(col("doc_id") % 3 === i), dir, s"b$i")
    }

  test("3-batch fold equals the one-shot aggregate (associativity)") {
    val dir = tmp("fold")
    fold3(dir)
    val oneShot = tmp("oneshot")
    StatsSink.appendCommitted(docs, oneShot, "all")
    assert(totals(dir) === totals(oneShot))
    assert(totals(dir)("en") === ((2L, 7L, 34L)))
    assert(totals(dir)("fr") === ((2L, 5L, 20L)))
  }

  test("empty store reads as an empty frame with the stats schema") {
    val dir = tmp("empty")
    val r = StatsSink.readCommitted(spark, dir)
    assert(r.columns.toSeq === Seq("lang", "n_docs", "n_tokens", "n_chars"))
    assert(r.count() === 0L)
  }

  test("readWithDistinct on an empty store returns zero rows with the sketch column") {
    val dir = tmp("empty_distinct")
    val r = StatsSink.readWithDistinct(spark, dir)
    assert(r.columns.toSeq ===
      Seq("lang", "n_docs", "n_tokens", "n_chars", "n_distinct_est"))
    assert(r.count() === 0L)
    // a store whose only commit was an empty batch is still empty
    StatsSink.appendCommitted(docs.filter(lit(false)), dir, "b0")
    assert(StatsSink.readWithDistinct(spark, dir).count() === 0L)
  }

  test("an empty batch appends a no-op segment (composed-replay idempotence)") {
    val dir = tmp("noop")
    StatsSink.appendCommitted(docs, dir, "b0")
    val before = totals(dir)
    // an ingest batch re-sent under a fresh id contributes zero
    // survivors: the composed stats commit must leave totals unchanged
    assert(StatsSink.appendCommitted(docs.filter(lit(false)), dir, "b1"))
    assert(totals(dir) === before)
    // and a replay under an absorbed id is refused outright
    assert(!StatsSink.appendCommitted(docs, dir, "b0"))
    assert(totals(dir) === before)
  }

  test("null language rolls up under its own group, never dropped") {
    val dir = tmp("nulllang")
    StatsSink.appendCommitted(docs, dir, "b0")
    val t = totals(dir)
    assert(t.contains("∅"))
    assert(t.values.map(_._1).sum === 6L)
  }

  test("distinct-content sketches: batch-fold merge equals one-shot, estimate matches exact") {
    val dir = tmp("hll_fold")
    fold3(dir)
    val oneShot = tmp("hll_oneshot")
    StatsSink.appendCommitted(docs, oneShot, "all")
    def est(d: String): Map[String, Long] =
      StatsSink.readWithDistinct(spark, d).collect()
        .filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> r.getLong(4)).toMap
    // register-max merge: the folded partials are the SAME sketch as
    // the one-shot build, not merely a close one
    assert(est(dir) === est(oneShot))
    // at this cardinality HLL is exact: 2 distinct texts per language
    assert(est(dir)("en") === 2L && est(dir)("fr") === 2L)
  }

  test("compaction folds segment files without changing totals") {
    val dir = tmp("compact")
    fold3(dir)
    val before = totals(dir)
    val (in, out) = StatsSink.compact(spark, dir)
    assert(in === 3 && out === 1)
    assert(totals(dir) === before)
    // the batch-id history survives the swap: a replay stays a no-op
    assert(!StatsSink.appendCommitted(docs, dir, "b1"))
    assert(totals(dir) === before)
  }
}
