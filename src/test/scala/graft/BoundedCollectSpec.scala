package graft

import org.apache.spark.sql.functions.{lit, repeat, when}
import graft.core.BoundedCollect

class BoundedCollectSpec extends SparkSpec {
  import spark.implicits._

  test("rows: exact at the ceiling, None one past it") {
    val df = spark.range(0, 10, 1, 4).toDF("v")
    val got = BoundedCollect.rows(df, 10)
    assert(got.map(_.map(_.getLong(0)).sorted.toSeq) === Some((0L until 10L).toSeq))
    assert(BoundedCollect.rows(df, 9) === None)
    assert(BoundedCollect.rows(df.filter($"v" < 0), 0).map(_.length) === Some(0))
  }

  test("distinct: nulls skipped, a value repeated across partitions counts once") {
    // range partitions are contiguous: every one of the 4 holds ids
    // 4i..4i+3, i.e. k = 0, 1, 2 and a null
    val df = spark.range(0, 16, 1, 4)
      .select(when($"id" % 4 =!= 3, $"id" % 4).as("k"))
    assert(df.rdd.getNumPartitions === 4)
    assert(BoundedCollect.distinct(df, "k", 3).map(_.toSet) ===
      Some(Set[Any](0L, 1L, 2L)))
    assert(BoundedCollect.distinct(df, "k", 2) === None)
    assert(BoundedCollect.distinct(df.filter($"k".isNull), "k", 0)
      .map(_.length) === Some(0))
  }

  test("a ceiling outside [0, Int.MaxValue - 1] fails loudly") {
    val df = spark.range(3).toDF("v")
    intercept[IllegalArgumentException](BoundedCollect.rows(df, -1))
    intercept[IllegalArgumentException](
      BoundedCollect.distinct(df, "v", Int.MaxValue))
  }

  test("one Spark job on a cached input, under and over the ceiling") {
    val df = spark.range(0, 1000, 1, 4).toDF("v").persist()
    try {
      df.count() // materialize the cache first
      for (jobs <- Seq(JobCount.during(BoundedCollect.rows(df, 5000))._2,
          JobCount.during(BoundedCollect.rows(df, 10))._2,
          JobCount.during(BoundedCollect.distinct(df, "v", 5000))._2,
          JobCount.during(BoundedCollect.distinct(df, "v", 10))._2)) {
        assert(jobs.count === 1, jobs)
        // the job names its caller, as a Dataset action would
        assert(jobs.frames.head.contains("BoundedCollectSpec.scala"), jobs)
      }
    } finally df.unpersist()
  }

  test("tasks ship a bounded total past the ceiling, not partitions x n rows") {
    // 2 KB rows: the shipped bytes are dominated by data, not task overhead
    def wide(parts: Int, perPart: Int) =
      spark.range(0, parts.toLong * perPart, 1, parts)
        .select(repeat(lit("x"), 2048).as("s"))
    val row = 2048L
    // every partition alone exceeds the ceiling: each ships a marker
    val (r1, b1) = shipped(BoundedCollect.rows(wide(16, 40), 20))
    assert(r1 === None)
    assert(b1 < 16 * row, s"shipped $b1 bytes for 16 overflowing partitions")
    // every partition fits, the total does not: the job is cancelled
    // once the driver holds more than n, so few of the 200 tasks ship
    val (r2, b2) = shipped(BoundedCollect.rows(wide(200, 4), 8))
    assert(r2 === None)
    assert(b2 < 200 * 4 * row / 4, s"shipped $b2 of ${200 * 4 * row} bytes")
    val (d2, bd2) = shipped(BoundedCollect.distinct(
      spark.range(0, 800, 1, 200).select(repeat($"id".cast("string"), 512).as("s")),
      "s", 8))
    assert(d2 === None)
    assert(bd2 < 800L * 1536 / 4, s"shipped $bd2 bytes")
  }

  /** `body`'s result and the serialized result bytes of its jobs' successful
    * tasks.
    */
  private def shipped[T](body: => T): (T, Long) = {
    val (out, jobs) = JobCount.during(body)
    (out, jobs.resultBytes)
  }
}
