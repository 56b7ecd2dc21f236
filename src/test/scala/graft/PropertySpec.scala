package graft

import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import graft.functions.ParseFunctions
import graft.operators.Batching

/** Property-style invariants (SURVEY.md §5 item 3) with deterministic
  * seeded generators — every run exercises the same cases.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def randomWords(rnd: Random, n: Int): String =
    Seq.fill(n)(Seq.fill(3 + rnd.nextInt(6))(
      ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")

  test("F9 property: any truncation of a valid JSON map repairs to a subset") {
    val rnd = new Random(42)
    var repairedCount = 0
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(6)
      val entries = (0 until n).map(i => s"k$i" -> randomWords(rnd, 1 + rnd.nextInt(4)))
      val json = entries.map { case (k, v) => s""""$k": "$v"""" }
        .mkString("{", ", ", "}")
      val cut = 1 + rnd.nextInt(json.length - 1)
      val repaired = ParseFunctions.repairJsonS(json.substring(0, cut))
      if (repaired != null) {
        repairedCount += 1
        val node = mapper.readTree(repaired)
        assert(node.isObject, s"repair produced non-object: $repaired")
        val orig = entries.toMap
        val it = node.fields()
        while (it.hasNext) {
          val e = it.next()
          assert(orig.get(e.getKey).contains(e.getValue.asText()),
            s"repair invented or corrupted a pair: ${e.getKey} in $repaired")
        }
      }
    }
    // the repair must actually recover a substantial share, not bail to null
    assert(repairedCount > 100, s"only $repairedCount/200 truncations repaired")
  }

  test("W4 property: batches respect the budget, order, and multiset") {
    val rnd = new Random(7)
    (1 to 8).foreach { _ =>
      val n = 20 + rnd.nextInt(120)
      val budget = 800L + rnd.nextInt(1200)
      val parts = 1 + rnd.nextInt(4)
      val rows = (0 until n).map(i => (i.toLong, s"id$i", 1L + rnd.nextInt(300)))
      val df = rows.toDF("pos", "description_id", "tokens")
      val assigned = Batching.assignBatches(df, budget, baseCost = 25,
        numPartitions = parts)
        .select("pos", "tokens", "batch_index")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)

      // multiset + order preserved
      assert(assigned.map(_._1).toSeq === rows.map(_._1))
      // batch ids non-decreasing in pos order and contiguous from 0
      val ids = assigned.map(_._3)
      assert(ids.zip(ids.tail).forall { case (a, b) => b == a || b == a + 1 },
        "batch ids must be non-decreasing and gap-free in input order")
      assert(ids.head === 0L)
      // every multi-row batch stays within budget
      assigned.groupBy(_._3).foreach { case (_, batchRows) =>
        val cost = 25 + batchRows.map(r => Batching.rowCost(r._2)).sum
        if (batchRows.length > 1)
          assert(cost <= budget,
            s"batch of ${batchRows.length} rows exceeds budget: $cost > $budget")
      }
    }
  }

  test("S10 property: incremental upsert of any in-order batch split equals " +
    "one-shot compaction, and every prefix replay is idempotent") {
    val rnd = new Random(11)
    val statuses = Seq("submitted", "validating", "in_progress", "completed", "failed")
    (1 to 3).foreach { round =>
      // a change log: full seed rows then partial updates, timestamps unique
      val jobs = (0 until 4 + rnd.nextInt(4)).map(j => s"job_$j")
      val rows = jobs.zipWithIndex.map { case (j, i) =>
        (s"b$i", s"in_$i.csv", j, "submitted", i.toLong, "te",
          null.asInstanceOf[String])
      } ++ (0 until 20 + rnd.nextInt(20)).map { k =>
        val j = jobs(rnd.nextInt(jobs.length))
        (null.asInstanceOf[String], null.asInstanceOf[String], j,
          statuses(rnd.nextInt(statuses.length)), (100 + k).toLong,
          null.asInstanceOf[String],
          if (rnd.nextBoolean()) s"out_$k.csv" else null.asInstanceOf[String])
      }
      val log = rows.toDF("batch_id", "input_file", "job_id", "status",
        "timestamp", "target_language", "output_file")
      val oneShot = graft.operators.Tracking.latestState(log, col("timestamp"))
        .orderBy("job_id").collect().map(_.toSeq).toSeq

      // split the log at random cut points into timestamp-ordered batches
      val sorted = rows.sortBy(_._5)
      val cuts = (Seq(0, sorted.length) ++
        Seq.fill(2)(rnd.nextInt(sorted.length))).distinct.sorted
      val dir = java.nio.file.Files.createTempDirectory(s"graft_prop$round")
        .toString + "/state"
      cuts.zip(cuts.tail).foreach { case (lo, hi) =>
        val batch = sorted.slice(lo, hi).toDF("batch_id", "input_file",
          "job_id", "status", "timestamp", "target_language", "output_file")
        graft.operators.Tracking.upsert(batch, dir)
        // replaying the batch just applied must be a no-op
        val before = graft.operators.Tracking.readState(spark, dir)
          .orderBy("job_id").collect().map(_.toSeq).toSeq
        graft.operators.Tracking.upsert(batch, dir)
        val after = graft.operators.Tracking.readState(spark, dir)
          .orderBy("job_id").collect().map(_.toSeq).toSeq
        assert(after === before, "re-applied batch changed state")
      }
      val folded = graft.operators.Tracking.readState(spark, dir)
        .orderBy("job_id").collect().map(_.toSeq).toSeq
      assert(folded === oneShot,
        s"fold over ${cuts.length - 1} batches diverged from one-shot compaction")
    }
  }

  test("RangeJoin property: bucketized join equals naive cross-join+filter " +
    "at every granularity") {
    val rnd = new Random(4242)
    val events = (1 to 120).map(i =>
      (i.toLong, s"u${rnd.nextInt(5)}", rnd.nextInt(1000).toLong))
      .toDF("event_id", "user", "ts")
    val intervals = (1 to 60).map { i =>
      val s = rnd.nextInt(1000).toLong
      (1000L + i, s"u${rnd.nextInt(5)}", s, s + rnd.nextInt(200).toLong)
    }.toDF("iid", "user", "s", "e")
    val naive = events.crossJoin(intervals.withColumnRenamed("user", "iuser"))
      .filter($"user" === $"iuser" && $"s" <= $"ts" && $"ts" <= $"e")
      .select("event_id", "iid").as[(Long, Long)].collect().toSeq.sorted
    Seq(1L, 7L, 100L, 997L, 5000L).foreach { g =>
      val got = graft.ext.RangeJoin.join(events, intervals, "ts", "s", "e",
          keys = Seq("user"), granularity = g)
        .select("event_id", "iid").as[(Long, Long)].collect().toSeq.sorted
      assert(got === naive, s"granularity $g diverged from naive")
      assert(got.distinct === got, s"granularity $g emitted duplicates")
    }
  }

  test("Skipping property: pruned reads equal full scans for random predicates") {
    import graft.ext.ManifestTable
    val dir = "/tmp/graft_test/skipping_property"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val rnd = new Random(1234)
    // mixed families: long id, double x, string s (ascii + multi-byte,
    // exercising UTF-8 byte order), nullable long n
    val words = Seq("alpha", "bravo", "zulu", "mike", "ècho", "δelta", "తెలుగు")
    val rows = (0L until 400L).map { id =>
      (id, (id * 17 % 600 - 120) / 20.0,
        words((id % words.size).toInt) + id,
        if (id % 7 == 0) None else Some(id * 3 - 50))
    }
    // interleaved appends: full-span files, only blooms can prune points
    (0 until 4).foreach { i =>
      ManifestTable.append(
        rows.filter(_._1 % 4 == i).toDF("id", "x", "s", "n").coalesce(1),
        dir, s"b$i", bloomCols = Seq("id", "s"))
    }
    val cols = Seq("id", "x", "n")
    val ops = Seq("<", "<=", ">", ">=", "=", "<>")
    def lit(c: String): String = c match {
      case "x" => ((rnd.nextInt(6000) - 1200) / 20.0).toString
      case _ => (rnd.nextInt(500) - 50).toString
    }
    def leaf(): String = rnd.nextInt(7) match {
      case 0 | 1 =>
        val c = cols(rnd.nextInt(cols.size))
        s"$c ${ops(rnd.nextInt(ops.size))} ${lit(c)}"
      case 2 => "n IS NULL"
      case 3 => "n IS NOT NULL"
      case 4 => s"s LIKE '${words(rnd.nextInt(words.size))}%'"
      case 5 => s"id IN (${Seq.fill(3)(rnd.nextInt(500) - 50).mkString(",")})"
      // >10 literals: the optimizer rewrites to InSet on the planner
      // path, while readWhere's parsed predicate stays In — one
      // predicate covers both evaluator entries
      case 6 => s"id IN (${Seq.fill(14)(rnd.nextInt(500) - 50).mkString(",")})"
    }
    def pred(depth: Int): String =
      if (depth == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"(${pred(depth - 1)}) AND (${pred(depth - 1)})"
        case 1 => s"(${pred(depth - 1)}) OR (${pred(depth - 1)})"
        case 2 => s"NOT (${pred(depth - 1)})"
      }
    def check(n: Int): Unit = (1 to n).foreach { _ =>
      val p = pred(1 + rnd.nextInt(2))
      val full = ManifestTable.read(spark, dir).where(p)
        .select("id").as[Long].collect().toSeq.sorted
      val pruned = ManifestTable.readWhere(spark, dir, p)
        .select("id").as[Long].collect().toSeq.sorted
      assert(pruned === full, s"readWhere diverged for: $p")
      val planner = ManifestTable.scan(spark, dir).where(p)
        .select("id").as[Long].collect().toSeq.sorted
      assert(planner === full, s"planner scan diverged for: $p")
    }
    check(30) // bloom phase: full-span files
    // clustered phase: tight per-file ranges, stats do the pruning
    ManifestTable.compact(spark, dir, targetFileBytes = 4L * 1024,
      clusterBy = Seq("id"))
    check(30)
  }

  test("StatsSink property: any batch split folds to the one-shot aggregate") {
    val rnd = new Random(777)
    val docs = (1 to 80).map(i =>
      (i.toLong, randomWords(rnd, 1 + rnd.nextInt(8)),
        Seq("en", "de", "fr")(rnd.nextInt(3)))).toDF("id", "text", "lang")
    def totals(dir: String) = graft.streaming.StatsSink.readCommitted(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    val oneShot = "/tmp/graft_test/stats_prop_oneshot"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(oneShot),
        spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(oneShot), true)
    graft.streaming.StatsSink.appendCommitted(docs, oneShot, "all")
    (1 to 3).foreach { trial =>
      val k = 2 + rnd.nextInt(4)
      val dir = s"/tmp/graft_test/stats_prop_${trial}_$k"
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
          spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      (0 until k).foreach { i =>
        graft.streaming.StatsSink.appendCommitted(docs.filter($"id" % k === i),
          dir, s"b$i")
      }
      assert(totals(dir) === totals(oneShot), s"split k=$k diverged")
    }
  }
}
