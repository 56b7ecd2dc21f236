package graft

import org.apache.spark.sql.functions._
import graft.ext.ManifestTable

/** The manifest-committed table's contract: snapshot visibility is a
  * manifest swap — batch appends are idempotent by id, a crash between
  * data write and commit leaves orphans (not rows), compaction is atomic
  * to concurrent readers, vacuum removes only unreferenced files.
  */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = s"/tmp/graft_test/manifest_$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d), true)
    d
  }

  private def rows(dir: String): Seq[(Long, String)] =
    ManifestTable.read(spark, dir).as[(Long, String)]
      .collect().toSeq.sorted

  private def batch(ids: Long*): org.apache.spark.sql.DataFrame =
    ids.map(i => (i, s"doc $i")).toDF("id", "text")

  test("appends commit atomically and replayed batch ids are no-ops") {
    val dir = tmp("append")
    assert(ManifestTable.append(batch(1, 2), dir, "b0"))
    assert(ManifestTable.append(batch(3), dir, "b1"))
    assert(rows(dir) === Seq((1L, "doc 1"), (2L, "doc 2"), (3L, "doc 3")))
    // crash-replay of b1: absorbed id, nothing committed, rows unchanged
    assert(!ManifestTable.append(batch(3), dir, "b1"))
    assert(rows(dir) === Seq((1L, "doc 1"), (2L, "doc 2"), (3L, "doc 3")))
    assert(ManifestTable.snapshot(spark, dir).version === 2L)
  }

  test("a crash between data write and commit leaves orphan files, not rows") {
    val dir = tmp("crash")
    ManifestTable.append(batch(1), dir, "b0")
    intercept[RuntimeException] {
      ManifestTable.append(batch(2), dir, "b1",
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    // the un-committed batch is INVISIBLE — no at-least-once window
    assert(rows(dir) === Seq((1L, "doc 1")))
    // vacuum sweeps the orphaned data files; the table is untouched
    assert(ManifestTable.vacuum(spark, dir, graceMs = 0L) >= 1)
    assert(rows(dir) === Seq((1L, "doc 1")))
    // the replay AFTER the crash commits normally (its id never landed)
    assert(ManifestTable.append(batch(2), dir, "b1"))
    assert(rows(dir) === Seq((1L, "doc 1"), (2L, "doc 2")))
  }

  test("compaction is one atomic swap: a concurrent reader never sees duplicates") {
    val dir = tmp("compact")
    (0 until 4).foreach(i => ManifestTable.append(batch(i.toLong), dir, s"b$i"))
    val before = rows(dir)
    var midRows: Seq[(Long, String)] = null
    val (nin, nout) = ManifestTable.compact(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024,
      beforeSwap = () => { midRows = rows(dir) })
    // mid-compaction (rewrite done, swap not yet): EXACTLY the old
    // snapshot — Compact's transient-duplicate window does not exist here
    assert(midRows === before)
    assert(nin === 4 && nout === 1)
    assert(rows(dir) === before)
    // batch-id history survives compaction: replays stay no-ops
    assert(!ManifestTable.append(batch(0), dir, "b0"))
    // old files are orphans now; vacuum removes them, content unchanged
    assert(ManifestTable.vacuum(spark, dir, graceMs = 0L) === 4)
    assert(rows(dir) === before)
  }

  test("concurrent append during compaction carries over untouched") {
    val dir = tmp("concurrent")
    ManifestTable.append(batch(1, 2), dir, "b0")
    ManifestTable.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024,
      beforeSwap = () => { ManifestTable.append(batch(9), dir, "late") })
    // the file appended mid-compaction is in the head manifest the swap
    // rebased onto — the compaction replaces only the files it rewrote
    assert(rows(dir) === Seq((1L, "doc 1"), (2L, "doc 2"), (9L, "doc 9")))
    assert(ManifestTable.vacuum(spark, dir, graceMs = 0L) >= 1)
    assert(rows(dir) === Seq((1L, "doc 1"), (2L, "doc 2"), (9L, "doc 9")))
  }

  test("conflicting concurrent compactions: the loser aborts, no duplicated rows") {
    val dir = tmp("compactrace")
    (0 until 4).foreach(i => ManifestTable.append(batch(i.toLong), dir, s"b$i"))
    val before = rows(dir)
    // compaction B completes INSIDE compaction A's rewrite->swap window,
    // replacing every file A read; A's rebase-and-commit would land a
    // second copy of all 4 rows, so A must abort instead
    var bResult: (Int, Int) = null
    val aResult = ManifestTable.compact(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024,
      beforeSwap = () => {
        bResult = ManifestTable.compact(spark, dir,
          targetFileBytes = 1024L * 1024 * 1024)
      })
    assert(bResult === ((4, 1)))
    assert(aResult === ((0, 0)))
    assert(rows(dir) === before)
    // A's rewrite and the 4 originals are orphans; vacuum sweeps them
    // and the single committed copy remains
    assert(ManifestTable.vacuum(spark, dir, graceMs = 0L) >= 5)
    assert(rows(dir) === before)
  }

  test("vacuum keeps every file an in-grace time travel can reach") {
    val dir = tmp("vacgrace")
    ManifestTable.append(batch(1, 2), dir, "b0") // v1
    ManifestTable.append(batch(3), dir, "b1")    // v2
    ManifestTable.compact(spark, dir)            // v3: originals orphaned
    val before = rows(dir)
    // every commit is seconds old — inside a 1 h grace the liveness set
    // is v2's full state plus the compaction's adds, so NOTHING sweeps
    // and time travel within the window stays intact
    assert(ManifestTable.vacuum(spark, dir, graceMs = 3600L * 1000) === 0)
    assert(ManifestTable.readVersion(spark, dir, 2L).count() === 3L)
    assert(ManifestTable.readVersion(spark, dir, 1L).count() === 2L)
    // grace 0: only the head survives — the documented trade (bounded
    // storage for bounded time travel), same as Delta's vacuum
    assert(ManifestTable.vacuum(spark, dir, graceMs = 0L) >= 2)
    assert(rows(dir) === before)
  }

  test("footer stats land in the manifest at append") {
    val dir = tmp("stats")
    ManifestTable.append(batch(1, 2, 3).coalesce(1), dir, "b0")
    val s = ManifestTable.snapshot(spark, dir)
    assert(s.files.size === 1)
    val st = s.stats(s.files.head)
    assert(st.rows === 3)
    val id = st.cols("id")
    assert(id.typ === "long" && id.min === Some("1") &&
      id.max === Some("3") && id.nulls === 0)
    val text = st.cols("text")
    assert(text.typ === "string" && text.min === Some("doc 1") &&
      text.max === Some("doc 3") && text.nulls === 0)
  }

  test("readWhere prunes files by min/max and never changes results") {
    val dir = tmp("skip")
    (0 until 5).foreach { i =>
      ManifestTable.append(
        batch((i * 10L) until (i * 10L + 10): _*).coalesce(1), dir, s"b$i")
    }
    // point lookup touches 1 of 5 files
    assert(ManifestTable.pruneInfo(spark, dir, "id = 23") === ((1, 5)))
    assert(ManifestTable.readWhere(spark, dir, "id = 23")
      .as[(Long, String)].collect().toSeq === Seq((23L, "doc 23")))
    // range straddling three files (id 30 lives in the 30..39 file)
    assert(ManifestTable.pruneInfo(spark, dir, "id >= 18 AND id < 31")._1 === 3)
    assert(ManifestTable.readWhere(spark, dir, "id >= 18 AND id < 31")
      .as[(Long, String)].collect().toSeq.sorted ===
      (18L to 30L).map(i => (i, s"doc $i")))
    // IN list: union of point lookups
    assert(ManifestTable.pruneInfo(spark, dir, "id IN (5, 45)") === ((2, 5)))
    // != prunes only a file whose every row equals the literal — none here
    assert(ManifestTable.pruneInfo(spark, dir, "id != 23") === ((5, 5)))
    // impossible predicate: zero files, schema intact, empty result
    assert(ManifestTable.pruneInfo(spark, dir, "id > 999")._1 === 0)
    val none = ManifestTable.readWhere(spark, dir, "id > 999")
    assert(none.columns.toSeq === Seq("id", "text") && none.count() === 0)
    // a shape the evaluator can't reason about keeps every file AND still
    // filters exactly (pruning is an optimization, semantics are the filter)
    assert(ManifestTable.pruneInfo(spark, dir, "id % 7 = 0") === ((5, 5)))
    assert(ManifestTable.readWhere(spark, dir, "id % 7 = 0").count() ===
      ManifestTable.read(spark, dir).where("id % 7 = 0").count())
    // string prefix LIKE: 'doc 4%' lives in files 0 (doc 4..doc 9) and 4
    assert(ManifestTable.pruneInfo(spark, dir, "text LIKE 'doc 4%'") === ((2, 5)))
    assert(ManifestTable.readWhere(spark, dir, "text LIKE 'doc 4%'").count() === 11)
    // literal-on-the-left flips correctly
    assert(ManifestTable.pruneInfo(spark, dir, "30 > id")._1 === 3)
  }

  test("null-count stats prune IS NULL / IS NOT NULL and null comparisons") {
    val dir = tmp("nulls")
    ManifestTable.append(
      Seq((1L, Option("a")), (2L, Option("b"))).toDF("id", "text").coalesce(1),
      dir, "b0")
    ManifestTable.append(
      Seq((3L, Option.empty[String]), (4L, Option.empty[String]))
        .toDF("id", "text").coalesce(1), dir, "b1")
    assert(ManifestTable.pruneInfo(spark, dir, "text IS NULL") === ((1, 2)))
    assert(ManifestTable.pruneInfo(spark, dir, "text IS NOT NULL") === ((1, 2)))
    assert(ManifestTable.readWhere(spark, dir, "text IS NULL")
      .select("id").as[Long].collect().toSeq.sorted === Seq(3L, 4L))
    assert(ManifestTable.readWhere(spark, dir, "text IS NOT NULL")
      .select("id").as[Long].collect().toSeq.sorted === Seq(1L, 2L))
    // the all-null file can never satisfy a direct comparison
    assert(ManifestTable.pruneInfo(spark, dir, "text = 'a'") === ((1, 2)))
    assert(ManifestTable.pruneInfo(spark, dir, "text <=> NULL") === ((1, 2)))
  }

  test("pruning covers doubles, booleans and date literals conservatively") {
    val dir = tmp("typed")
    def df(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, i / 10.0, i % 2 == 0, java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d")))
      .toDF("id", "score", "flag", "d").coalesce(1)
    ManifestTable.append(df(0, 10), dir, "b0")
    ManifestTable.append(df(100, 110), dir, "b1")
    assert(ManifestTable.pruneInfo(spark, dir, "score > 5.0") === ((1, 2)))
    assert(ManifestTable.pruneInfo(spark, dir, "score <= 0.5") === ((1, 2)))
    // integral literal against a double column prunes too
    assert(ManifestTable.pruneInfo(spark, dir, "score > 5") === ((1, 2)))
    // fractional literal against a long column
    assert(ManifestTable.pruneInfo(spark, dir, "id < 9.5") === ((1, 2)))
    // booleans: both files mix true/false, so flag predicates keep both
    assert(ManifestTable.pruneInfo(spark, dir, "flag = true") === ((2, 2)))
    // date literals prune the date family
    assert(ManifestTable.pruneInfo(spark, dir, "d > DATE'2024-01-20'")._1 === 1)
    // a long literal must NOT prune a date column (cast semantics differ)
    assert(ManifestTable.pruneInfo(spark, dir, "d > 20") === ((2, 2)))
    assert(ManifestTable.readWhere(spark, dir, "score > 5.0 AND flag = true")
      .count() === ManifestTable.read(spark, dir)
      .where("score > 5.0 AND flag = true").count())
  }

  test("clustered compaction builds the skipping power appends lack") {
    val dir = tmp("cluster")
    // interleaved appends: every file covers nearly the full id range,
    // so a selective range predicate can prune NOTHING
    ManifestTable.append(
      batch((0L until 400L).filter(_ % 2 == 0): _*).coalesce(1), dir, "even")
    ManifestTable.append(
      batch((0L until 400L).filter(_ % 2 == 1): _*).coalesce(1), dir, "odd")
    assert(ManifestTable.pruneInfo(spark, dir, "id < 10") === ((2, 2)))
    val expected = ManifestTable.read(spark, dir).where("id < 10")
      .as[(Long, String)].collect().toSeq.sorted
    // cluster on id: range-partitioned rewrite => near-disjoint file ranges
    val (nin, nout) = ManifestTable.compact(spark, dir,
      targetFileBytes = 2048L, clusterBy = Seq("id"))
    assert(nin === 2 && nout >= 2)
    val (kept, total) = ManifestTable.pruneInfo(spark, dir, "id < 10")
    assert(total === nout && kept < total)
    assert(ManifestTable.readWhere(spark, dir, "id < 10")
      .as[(Long, String)].collect().toSeq.sorted === expected)
  }

  test("bloom sidecars prune point lookups that min/max cannot") {
    val dir = tmp("bloom")
    // the table's first append declares no bloom column, so its one file
    // carries none and stays unprunable-by-bloom
    ManifestTable.append(batch(1000L), dir, "nobloom")
    // interleaved appends: every file's [min, max] spans nearly the whole
    // id range, so stats pruning keeps everything for an equality probe
    (0 until 4).foreach { i =>
      ManifestTable.append(
        batch((0L until 400L).filter(_ % 4 == i): _*).coalesce(1),
        dir, s"b$i", bloomCols = Seq("id", "text"))
    }
    // id 217 % 4 = 1: exactly one file holds it; stats keep the 4
    // interleaved files (the bloom-less one is pruned by min/max anyway),
    // the bloom pass drops the other three (fpp makes >1 astronomically
    // rare at 100 ids/file, and NEVER drops the true file — one-sided)
    val (kept, total) = ManifestTable.pruneInfo(spark, dir, "id = 217")
    assert(total === 5 && kept <= 2 && kept >= 1)
    assert(ManifestTable.readWhere(spark, dir, "id = 217")
      .as[(Long, String)].collect().toSeq === Seq((217L, "doc 217")))
    // string bloom: same story on the text column
    val (keptS, _) = ManifestTable.pruneInfo(spark, dir, "text = 'doc 217'")
    assert(keptS <= 2)
    // IN keeps the union of candidate files
    assert(ManifestTable.readWhere(spark, dir, "id IN (217, 218)")
      .as[(Long, String)].collect().toSeq.sorted ===
      Seq((217L, "doc 217"), (218L, "doc 218")))
    // a bloom conjunct under OR must NOT prune (it is not required)
    assert(ManifestTable.pruneInfo(spark, dir, "id = 217 OR id = 218")
      === ((4, 5)))
    // absent key: blooms can drop every file; result stays empty+typed
    val (keptA, _) = ManifestTable.pruneInfo(spark, dir, "id = 9999999")
    assert(keptA === 0) // min/max already excludes out-of-range ids
    assert(ManifestTable.readWhere(spark, dir, "text = 'no such doc'")
      .count() === 0)
    // files without blooms stay unprunable-by-bloom: a lookup their
    // stats admit keeps the bloom-less file
    val (k2, t2) = ManifestTable.pruneInfo(spark, dir, "id = 217")
    assert(t2 === 5 && k2 >= 1 && k2 <= 3) // new file pruned by min/max anyway
    assert(ManifestTable.readWhere(spark, dir, "text = 'doc 1000'")
      .as[(Long, String)].collect().toSeq === Seq((1000L, "doc 1000")))
    // compaction writes the declared blooms into the rewritten files
    ManifestTable.compact(spark, dir, targetFileBytes = 2048L)
    val (k3, t3) = ManifestTable.pruneInfo(spark, dir, "id = 217")
    assert(t3 >= 2 && k3 < t3)
    assert(ManifestTable.readWhere(spark, dir, "id = 217")
      .as[(Long, String)].collect().toSeq === Seq((217L, "doc 217")))
    // the blooms live inside the data files: vacuum sweeps the
    // compacted-away files, and no bloom layer exists beside them
    assert(ManifestTable.vacuum(spark, dir, graceMs = 0L) >= 5)
    assert(ManifestTable.snapshot(spark, dir).files.forall(f =>
      ParquetBlooms.has(spark, dir, f, "id")))
    assert(!new java.io.File(s"$dir/_bloom").exists())
  }

  test("time travel: historical versions stay readable until vacuumed") {
    val dir = tmp("travel")
    ManifestTable.append(batch(1), dir, "b0")
    ManifestTable.append(batch(2), dir, "b1")
    assert(ManifestTable.snapshotAt(spark, dir, 1).files.size === 1)
    assert(ManifestTable.readVersion(spark, dir, 1)
      .as[(Long, String)].collect().toSeq === Seq((1L, "doc 1")))
    intercept[IllegalArgumentException] {
      ManifestTable.snapshotAt(spark, dir, 99)
    }
    // compaction orphans v2's files but manifests are never deleted:
    // inside the vacuum grace window the historical read still resolves
    ManifestTable.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024)
    assert(ManifestTable.vacuum(spark, dir) === 0)
    assert(ManifestTable.readVersion(spark, dir, 2)
      .as[(Long, String)].collect().toSeq.sorted ===
      Seq((1L, "doc 1"), (2L, "doc 2")))
  }

  test("empty-string min/max survives the manifest round trip") {
    val dir = tmp("emptystr")
    // a column whose every value is "" writes a col: line ending "\t1\t\t";
    // a limit-0 split drops those trailing empty fields and every later
    // snapshot() of the table would throw — one legitimate commit bricking
    // the table permanently
    ManifestTable.append(
      Seq((1L, ""), (2L, "")).toDF("id", "text").coalesce(1), dir, "b0")
    val s = ManifestTable.snapshot(spark, dir)
    val text = s.stats(s.files.head).cols("text")
    assert(text.min === Some("") && text.max === Some(""))
    // the table stays appendable, readable and prunable afterwards
    assert(ManifestTable.append(batch(3), dir, "b1"))
    assert(ManifestTable.readWhere(spark, dir, "text = ''")
      .count() === 2)
    assert(ManifestTable.pruneInfo(spark, dir, "text = 'zzz'")._1 <= 1)
  }

  test("LIKE with a custom ESCAPE character never prunes") {
    val dir = tmp("likeesc")
    // the file holds only "ab%". Under ESCAPE 'c' the pattern 'abc%'
    // matches the literal "ab%" — reading it as a plain 'abc' prefix
    // would prune the file holding the only true match.
    ManifestTable.append(
      Seq((1L, "ab%")).toDF("id", "text").coalesce(1), dir, "b0")
    assert(ManifestTable.pruneInfo(spark, dir,
      "text LIKE 'abc%' ESCAPE 'c'") === ((1, 1)))
    assert(ManifestTable.readWhere(spark, dir,
      "text LIKE 'abc%' ESCAPE 'c'").count() === 1)
    // the default escape still prunes prefix shapes
    assert(ManifestTable.pruneInfo(spark, dir, "text LIKE 'zz%'") === ((0, 1)))
  }

  test("struct-field predicates never prune via a same-named top-level column") {
    val dir = tmp("structattr")
    // top-level a = 1 (stats exclude 5); the struct field s.a = 5 matches.
    // Collapsing `s.a` to "a" would prune the file and lose the row.
    ManifestTable.append(
      spark.range(1).select(lit(1L).as("a"),
        struct(lit(5L).as("a")).as("s")).coalesce(1), dir, "b0")
    assert(ManifestTable.pruneInfo(spark, dir, "s.a = 5") === ((1, 1)))
    assert(ManifestTable.readWhere(spark, dir, "s.a = 5").count() === 1)
  }

  test("bloom sidecars prune regardless of bloomCols case") {
    val dir = tmp("bloomcase")
    (0 until 4).foreach { i =>
      ManifestTable.append(
        (0L until 400L).filter(_ % 4 == i).map(x => (x, s"doc $x"))
          .toDF("UserId", "text").coalesce(1),
        dir, s"b$i", bloomCols = Seq("UserId"))
    }
    // the probe side lowercases attribute names; sidecars written under
    // the caller's "UserId" case must still be consulted
    val (kept, total) = ManifestTable.pruneInfo(spark, dir, "UserId = 217")
    assert(total === 4 && kept >= 1 && kept <= 2)
    assert(ManifestTable.readWhere(spark, dir, "UserId = 217")
      .select("UserId").as[Long].collect().toSeq === Seq(217L))
  }

  test("vacuum grace window protects in-flight appends and pinned readers") {
    val dir = tmp("grace")
    ManifestTable.append(batch(1), dir, "b0")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // an in-flight append's data file: moved into data/ but not yet in
    // any manifest (the pre-commit window ADVICE r9 flags)
    val inflight = new org.apache.hadoop.fs.Path(s"$dir/data/inflight.parquet")
    fs.create(inflight, true).close()
    // a pinned reader's files: compact orphans the v1 file
    val pinned = ManifestTable.read(spark, dir)
    ManifestTable.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024)
    // graceful vacuum (files are seconds old): deletes NOTHING — the
    // in-flight append can still commit, the pinned reader still scans
    assert(ManifestTable.vacuum(spark, dir) === 0)
    assert(fs.exists(inflight))
    assert(pinned.as[(Long, String)].collect().toSeq === Seq((1L, "doc 1")))
    // past the grace window (grace 0) both orphans go
    assert(ManifestTable.vacuum(spark, dir, graceMs = 0L) >= 2)
    assert(!fs.exists(inflight))
    assert(rows(dir) === Seq((1L, "doc 1")))
  }

  test("deleteWhere removes TRUE rows, keeps NULL-predicate rows, replays as no-op") {
    val dir = tmp("delete")
    ManifestTable.append(Seq((1L, "keep"), (2L, "drop"))
      .toDF("id", "text"), dir, "b0")
    // a NULL text row: `text = 'drop'` is NULL for it — SQL DELETE keeps it
    ManifestTable.append(Seq((3L, null.asInstanceOf[String]))
      .toDF("id", "text"), dir, "b1")
    assert(ManifestTable.deleteWhere(spark, dir, "text = 'drop'", "d0"))
    assert(ManifestTable.read(spark, dir).select("id")
      .as[Long].collect().toSeq.sorted === Seq(1L, 3L))
    // crash-replay of d0: absorbed opId, nothing rewritten
    assert(!ManifestTable.deleteWhere(spark, dir, "text = 'drop'", "d0"))
    assert(ManifestTable.read(spark, dir).count() === 2)
  }

  test("deleteWhere rewrites only the files pruning cannot clear") {
    val dir = tmp("deleteprune")
    (0 until 4).foreach { i =>
      ManifestTable.append(
        (0L until 400L).filter(_ % 4 == i).map(x => (x, s"doc $x"))
          .toDF("id", "text").coalesce(1), dir, s"b$i")
    }
    ManifestTable.compact(spark, dir, targetFileBytes = 2L * 1024,
      clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, dir)
    val (cand, total) = ManifestTable.pruneInfo(spark, dir, "id < 40")
    assert(total > 1 && cand < total, s"clustering gave no pruning: $cand/$total")
    assert(ManifestTable.deleteWhere(spark, dir, "id < 40", "d0"))
    val after = ManifestTable.snapshot(spark, dir)
    // the files pruning proved clean were NOT rewritten: still live,
    // same names — the delete touched O(matching files), not O(table)
    assert(before.files.count(after.files.contains) === total - cand)
    assert(ManifestTable.read(spark, dir).select("id").as[Long]
      .collect().toSeq.sorted === (40L until 400L).toSeq)
  }

  test("deleteWhere aborts when a concurrent rewrite replaced a candidate file") {
    val dir = tmp("deleteconflict")
    ManifestTable.append(batch(1, 2, 3), dir, "b0")
    // between candidate selection and swap, a compaction rewrites the
    // table; committing the delete would swap in files computed from
    // now-replaced inputs — the loser must abort, leaving rows intact
    assert(!ManifestTable.deleteWhere(spark, dir, "id = 2", "d0",
      beforeSwap = () =>
        ManifestTable.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024)))
    assert(rows(dir) === Seq((1L, "doc 1"), (2L, "doc 2"), (3L, "doc 3")))
    // the retry against the new head applies cleanly
    assert(ManifestTable.deleteWhere(spark, dir, "id = 2", "d0-retry"))
    assert(rows(dir) === Seq((1L, "doc 1"), (3L, "doc 3")))
  }

  test("updateWhere rewrites matched rows in place; SET is not a schema change") {
    val dir = tmp("update")
    ManifestTable.append(batch(1, 2, 3), dir, "b0")
    assert(ManifestTable.updateWhere(spark, dir, "id >= 2",
      Map("text" -> "upper(text)"), "u0"))
    assert(rows(dir) === Seq((1L, "doc 1"), (2L, "DOC 2"), (3L, "DOC 3")))
    // replay: no-op
    assert(!ManifestTable.updateWhere(spark, dir, "id >= 2",
      Map("text" -> "upper(text)"), "u0"))
    // a SET column that does not exist is a loud error, not a new column
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, dir, "id = 1",
        Map("nope" -> "'x'"), "u1")
    }
    // the new value is cast back to the column's type: schema is stable
    assert(ManifestTable.updateWhere(spark, dir, "id = 1",
      Map("id" -> "id + 10.7"), "u2"))
    assert(ManifestTable.read(spark, dir).schema("id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(ManifestTable.read(spark, dir).select("id")
      .as[Long].collect().toSeq.sorted === Seq(2L, 3L, 11L))
  }

  test("merge upserts: matched rows replaced, unmatched inserted, null keys insert") {
    val dir = tmp("merge")
    ManifestTable.append(batch(1, 2, 3), dir, "b0")
    val src = Seq((2L, "doc 2 v2"), (9L, "doc 9"))
      .toDF("id", "text")
      .union(Seq(("x", "null key")).toDF("a", "b")
        .select(lit(null).cast("long").as("id"), col("b").as("text")))
    assert(ManifestTable.merge(src, dir, Seq("id"), "m0"))
    val got = ManifestTable.read(spark, dir)
      .as[(Option[Long], String)].collect().toSeq
      .sortBy(r => (r._1.getOrElse(Long.MinValue), r._2))
    assert(got === Seq(
      (None, "null key"), (Some(1L), "doc 1"), (Some(2L), "doc 2 v2"),
      (Some(3L), "doc 3"), (Some(9L), "doc 9")))
    // replay: no-op
    assert(!ManifestTable.merge(src, dir, Seq("id"), "m0"))
    assert(ManifestTable.read(spark, dir).count() === 5)
    // a source missing a table column is a loud error (MERGE is not a
    // schema change)
    intercept[org.apache.spark.sql.AnalysisException] {
      ManifestTable.merge(Seq(Tuple1(7L)).toDF("id"), dir, Seq("id"), "m1")
    }
  }

  test("merge prunes candidate files through the source's key range") {
    val dir = tmp("mergeprune")
    (0 until 4).foreach { i =>
      ManifestTable.append(
        (0L until 400L).filter(_ % 4 == i).map(x => (x, s"doc $x"))
          .toDF("id", "text").coalesce(1), dir, s"b$i")
    }
    ManifestTable.compact(spark, dir, targetFileBytes = 2L * 1024,
      clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, dir)
    val src = Seq((5L, "doc 5 v2"), (7L, "doc 7 v2"), (1000L, "new"))
      .toDF("id", "text")
    assert(ManifestTable.merge(src, dir, Seq("id"), "m0"))
    val after = ManifestTable.snapshot(spark, dir)
    // most clustered files exclude keys {5, 7, 1000} by stats: untouched
    assert(before.files.count(after.files.contains) > before.files.size / 2)
    val all = ManifestTable.read(spark, dir).as[(Long, String)].collect().toMap
    assert(all.size === 401 && all(5L) === "doc 5 v2" &&
      all(7L) === "doc 7 v2" && all(1000L) === "new")
  }

  test("appendsBetween surfaces appended rows once, tagged by commit version") {
    val dir = tmp("feed")
    ManifestTable.append(batch(1), dir, "b0")          // v1
    ManifestTable.append(batch(2), dir, "b1")          // v2
    ManifestTable.compact(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024)           // v3: pure rewrite
    ManifestTable.append(batch(3), dir, "b2")          // v4
    val feed = ManifestTable.appendsBetween(spark, dir, 1L, 4L)
      .as[(Long, String, Long)].collect().toSeq.sorted
    // v1's rows are OUTSIDE (from is exclusive); the compaction's
    // rewritten files carry rows 1-2 but contribute nothing
    assert(feed === Seq((2L, "doc 2", 2L), (3L, "doc 3", 4L)))
    // the full-history feed reconstructs the table
    assert(ManifestTable.appendsBetween(spark, dir, 0L, 4L)
      .count() === 3)
    // an empty range yields an empty, correctly-shaped frame
    assert(ManifestTable.appendsBetween(spark, dir, 3L, 3L).count() === 0)
  }

  test("appendsBetween refuses to skip row-level commits silently") {
    val dir = tmp("feedrowop")
    ManifestTable.append(batch(1, 2), dir, "b0")       // v1
    ManifestTable.deleteWhere(spark, dir, "id = 1", "d0") // v2
    ManifestTable.append(batch(3), dir, "b1")          // v3
    // a feed over (0, 3] would have to represent v2's removal — raise
    val e = intercept[IllegalStateException] {
      ManifestTable.appendsBetween(spark, dir, 0L, 3L)
    }
    assert(e.getMessage.contains("delete"))
    // a range strictly after the delete is served
    assert(ManifestTable.appendsBetween(spark, dir, 2L, 3L)
      .as[(Long, String, Long)].collect().toSeq === Seq((3L, "doc 3", 3L)))
  }

  test("changesBetween replays the full typed change log") {
    val dir = tmp("cdf")
    ManifestTable.append(batch(1, 2), dir, "b0")          // v1: inserts
    ManifestTable.compact(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024)              // v2: nothing
    ManifestTable.deleteWhere(spark, dir, "id = 1", "d0",
      cdc = true)                                         // v3: delete
    ManifestTable.updateWhere(spark, dir, "id = 2",
      Map("text" -> "upper(text)"), "u0", cdc = true)     // v4: update
    ManifestTable.merge(
      Seq((2L, "doc 2 v3"), (9L, "doc 9")).toDF("id", "text"),
      dir, Seq("id"), "m0", cdc = true)                   // v5: merge
    val feed = ManifestTable.changesBetween(spark, dir, 0L, 5L)
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    assert(feed === Seq(
      (1L, "doc 1", "delete", 3L),
      (1L, "doc 1", "insert", 1L),
      (2L, "DOC 2", "update_postimage", 4L),
      (2L, "DOC 2", "update_preimage", 5L),
      (2L, "doc 2", "insert", 1L),
      (2L, "doc 2", "update_preimage", 4L),
      (2L, "doc 2 v3", "update_postimage", 5L),
      (9L, "doc 9", "insert", 5L)))
    // a consumer applying the feed in commit order reconstructs the
    // table: inserts + postimages minus deletes + preimages
    assert(ManifestTable.read(spark, dir).as[(Long, String)]
      .collect().toSeq.sorted === Seq((2L, "doc 2 v3"), (9L, "doc 9")))
  }

  test("changesBetween raises on a row-level commit without a CDC sidecar") {
    val dir = tmp("cdfmissing")
    ManifestTable.append(batch(1, 2), dir, "b0")         // v1
    ManifestTable.deleteWhere(spark, dir, "id = 1", "d0") // v2: cdc off
    val e = intercept[IllegalStateException] {
      ManifestTable.changesBetween(spark, dir, 0L, 2L)
    }
    assert(e.getMessage.contains("without a CDC sidecar"))
    // ranges not covering the blind commit still serve
    assert(ManifestTable.changesBetween(spark, dir, 0L, 1L).count() === 2)
  }

  test("CDC reserves _change_type: a colliding table column fails the op") {
    val dir = tmp("cdfreserved")
    ManifestTable.append(Seq((1L, "x"))
      .toDF("id", "_change_type"), dir, "b0")
    intercept[IllegalArgumentException] {
      ManifestTable.deleteWhere(spark, dir, "id = 1", "d0", cdc = true)
    }
    // without CDC the column name is the caller's business; deleting the
    // only row leaves an EMPTY table (the rewritten file is provably
    // empty and dropped, so no files remain)
    assert(ManifestTable.deleteWhere(spark, dir, "id = 1", "d1"))
    assert(ManifestTable.snapshot(spark, dir).files.isEmpty)
  }

  test("vacuum sweeps only UNREFERENCED cdc sidecars") {
    val dir = tmp("cdfvacuum")
    ManifestTable.append(batch(1, 2), dir, "b0")
    ManifestTable.deleteWhere(spark, dir, "id = 1", "d0", cdc = true)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // a crashed cowCommit's stranded sidecar: written, never referenced
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/_cdc/orphan-dir")
    fs.mkdirs(orphan)
    ManifestTable.vacuum(spark, dir, graceMs = 0L)
    assert(!fs.exists(orphan))
    // the committed sidecar survives — the feed is replayable history
    assert(ManifestTable.changesBetween(spark, dir, 1L, 2L)
      .where("_change_type = 'delete'").count() === 1)
  }

  test("a pre-stats/pre-provenance manifest stays readable, conservatively") {
    val dir = tmp("legacy")
    ManifestTable.append(batch(1, 2), dir, "b0")
    ManifestTable.append(batch(3), dir, "b1")
    // simulate a table written before the incremental log, stats,
    // schema and op lines existed: replace the delta log with FULL
    // v-manifests carrying only file:/batch: lines (the original
    // format), exactly what a pre-r12 writer left on disk
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val snaps = Seq(1L, 2L).map(v => ManifestTable.snapshotAt(spark, dir, v))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest"), true)
    snaps.foreach { s =>
      val legacy = s.files.map("file:" + _) ++
        s.batchIds.toSeq.sorted.map("batch:" + _)
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/_manifest/v${"%08d".format(s.version)}"), true)
      try out.write(legacy.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    val s = ManifestTable.snapshot(spark, dir)
    assert(s.stats.isEmpty && s.op === "" && s.schemaJson.isEmpty)
    // reads work; pruning keeps EVERY file (nothing provable, nothing
    // dropped); results stay exact
    assert(ManifestTable.pruneInfo(spark, dir, "id = 1") ===
      ((s.files.size, s.files.size)))
    assert(ManifestTable.readWhere(spark, dir, "id = 1").count() === 1)
    assert(ManifestTable.scan(spark, dir).where("id >= 2")
      .as[(Long, String)].collect().toSeq.sorted ===
      Seq((2L, "doc 2"), (3L, "doc 3")))
    // replay idempotence survives (batch ids were preserved)
    assert(!ManifestTable.append(batch(3), dir, "b1"))
    // the feed classifies by DELTA CONTENT: these legacy versions are
    // add-only diffs (nothing removed, no DVs), which PROVES their files
    // hold only new rows — the feed serves them despite the missing op
    assert(ManifestTable.appendsBetween(spark, dir, 0L, 2L).count() === 3)
    // and the next commit re-establishes provenance for new versions
    ManifestTable.append(batch(4), dir, "b2")
    assert(ManifestTable.snapshot(spark, dir).op === "append")
  }

  test("the feeds refuse a provenance-less version that removed files") {
    val dir = tmp("legacyrm")
    ManifestTable.append(batch(1, 2), dir, "b0")
    ManifestTable.compact(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024) // v2: rewrite (remove + add)
    // strip the op lines: now v2's diff shows removes with NO provenance
    // — it could be a compact (row-preserving) or a delete (not); the
    // feed cannot prove which, so it raises instead of guessing
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val snaps = Seq(1L, 2L).map(v => ManifestTable.snapshotAt(spark, dir, v))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest"), true)
    snaps.foreach { s =>
      val legacy = s.files.map("file:" + _) ++
        s.batchIds.toSeq.sorted.map("batch:" + _)
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/_manifest/v${"%08d".format(s.version)}"), true)
      try out.write(legacy.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    ManifestTable.clearSnapshotCacheForTest()
    intercept[IllegalStateException] {
      ManifestTable.appendsBetween(spark, dir, 0L, 2L)
    }
    intercept[IllegalStateException] {
      ManifestTable.changesBetween(spark, dir, 0L, 2L)
    }
  }

  test("merge prunes string keys containing backslashes and quotes exactly (ADVICE r11)") {
    val dir = tmp("mergeesc")
    // keys chosen to break a SQL-string round-trip: backslash mid-key
    // (parser would eat it as an escape), trailing backslash (parser
    // would throw), embedded quote (covered by escaping, kept as a
    // regression), and a plain key as control
    val keys = Seq("a\\b", "trail\\", "qu'ote", "plain")
    val t0 = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("k", "v")
    ManifestTable.append(t0, dir, "b0")
    val src = keys.map(k => (k, 100L)).toDF("k", "v")
    assert(ManifestTable.merge(src, dir, Seq("k"), "m0"))
    // every key REPLACED (4 rows, all v=100) — a mis-parsed pruning
    // bound would have inserted duplicates instead
    val got = ManifestTable.read(spark, dir).as[(String, Long)]
      .collect().toSeq.sorted
    assert(got === keys.sorted.map(k => (k, 100L)))
    // and the same keys as a RANGE (min/max conjuncts path): two-column
    // key forces the range branch
    val dir2 = tmp("mergeesc2")
    ManifestTable.append(t0.withColumn("k2", col("k")), dir2, "b0")
    val src2 = keys.map(k => (k, 200L, k)).toDF("k", "v", "k2")
    assert(ManifestTable.merge(src2, dir2, Seq("k", "k2"), "m0"))
    assert(ManifestTable.read(spark, dir2).select("v").as[Long]
      .collect().toSeq === Seq.fill(4)(200L))
  }

  test("merge into an EMPTY table records the schema (ADVICE r11)") {
    val dir = tmp("mergeschema")
    assert(ManifestTable.merge(batch(1, 2), dir, Seq("id"), "m0"))
    assert(ManifestTable.tableSchema(
      ManifestTable.snapshot(spark, dir)).isDefined)
    // schema evolution works on top: a later append adds a column and a
    // full read surfaces it (null-filled for the merge-created file) —
    // the exact loss mode schema tracking exists to prevent
    ManifestTable.append(Seq((3L, "doc 3", "de")).toDF("id", "text", "lang"),
      dir, "b1")
    val got = ManifestTable.read(spark, dir)
      .select("id", "lang").as[(Long, Option[String])]
      .collect().toSeq.sortBy(_._1)
    assert(got === Seq((1L, None), (2L, None), (3L, Some("de"))))
  }

  test("merge rejects source columns the table lacks (ADVICE r11)") {
    val dir = tmp("mergeextra")
    ManifestTable.append(batch(1, 2), dir, "b0")
    val src = Seq((1L, "doc 1 v2", "extra")).toDF("id", "text", "surprise")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.merge(src, dir, Seq("id"), "m0")
    }
    assert(e.getMessage.contains("surprise"))
  }

  test("the feeds refuse tables whose columns collide with feed columns (ADVICE r11)") {
    val dir = tmp("feedreserved")
    ManifestTable.append(Seq((1L, "x"))
      .toDF("id", "_change_type"), dir, "b0")
    // appends are unrestricted (r11 contract) but the CDC feed would
    // silently overwrite the column — it must raise instead
    val e = intercept[IllegalArgumentException] {
      ManifestTable.changesBetween(spark, dir, 0L, 1L)
    }
    assert(e.getMessage.contains("_change_type"))
    val dir2 = tmp("feedreserved2")
    ManifestTable.append(Seq((1L, 7L))
      .toDF("id", "commit_version"), dir2, "b0")
    intercept[IllegalArgumentException] {
      ManifestTable.appendsBetween(spark, dir2, 0L, 1L)
    }
    // the streaming CDC face fails at source construction too
    val err = intercept[Exception] {
      spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("memory").queryName("mt_reserved")
        .start().processAllAvailable()
    }
    assert(err.getMessage != null)
  }

  test("history narrates the commit log: op kinds, file/row counts, CDC flags") {
    val dir = tmp("history")
    ManifestTable.append(batch(1, 2), dir, "b0")              // v1
    ManifestTable.compact(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024)                  // v2
    ManifestTable.deleteWhere(spark, dir, "id = 1", "d0",
      cdc = true)                                             // v3
    val h = ManifestTable.history(spark, dir)
      .as[(Long, String, Int, Int, Option[Long], Boolean)]
      .collect().toSeq.sortBy(_._1)
    assert(h.map(r => (r._1, r._2, r._5, r._6)) === Seq(
      (1L, "append", Some(2L), false),
      (2L, "compact", Some(2L), false),
      (3L, "delete", Some(1L), true)))
    // absorbed batch ids accumulate (append + delete opIds)
    assert(h.last._4 === 2)
  }

  test("stress: racing appenders, compactors and deleters keep the table exact") {
    val dir = tmp("stress")
    // 8 threads x 4 appends race the CAS; every batch id is unique, so
    // EVERY append must land exactly once regardless of who loses how
    // many CAS rounds
    val appenders = (0 until 8).map { t =>
      new Thread(() => (0 until 4).foreach { i =>
        ManifestTable.append(batch(t * 100L + i), dir, s"t$t-b$i")
      })
    }
    appenders.foreach(_.start()); appenders.foreach(_.join())
    val expected = (for (t <- 0 until 8; i <- 0 until 4)
      yield t * 100L + i).sorted
    assert(ManifestTable.read(spark, dir).select("id").as[Long]
      .collect().toSeq.sorted === expected)
    assert(ManifestTable.snapshot(spark, dir).version === 32L)
    // now race a compaction against a delete: each either commits fully
    // or aborts fully (the loser's candidates vanished), never a mix —
    // the surviving row set is one of the two serializable outcomes
    val compactor = new Thread(() =>
      ManifestTable.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024))
    val deleted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val deleter = new Thread(() => deleted.set(
      ManifestTable.deleteWhere(spark, dir, "id % 100 = 3", "race-d0")))
    compactor.start(); deleter.start()
    compactor.join(); deleter.join()
    val after = ManifestTable.read(spark, dir).select("id").as[Long]
      .collect().toSeq.sorted
    if (deleted.get) assert(after === expected.filterNot(_ % 100 == 3))
    else assert(after === expected) // delete aborted on the conflict
    // replays of every id are still absorbed after all the racing
    assert(!ManifestTable.append(batch(999L), dir, "t0-b0"))
  }

  test("schema evolution: new columns null-fill, type changes reject") {
    val dir = tmp("evolve")
    ManifestTable.append(batch(1), dir, "b0")
    // a batch with a NEW column extends the table schema; the old file
    // null-fills it on read (first-footer-wins would drop the column)
    ManifestTable.append(Seq((2L, "doc 2", "en"))
      .toDF("id", "text", "lang"), dir, "b1")
    val got = ManifestTable.read(spark, dir)
      .as[(Long, String, Option[String])].collect().toSeq.sortBy(_._1)
    assert(got === Seq((1L, "doc 1", None), (2L, "doc 2", Some("en"))))
    // a batch MISSING a column null-fills its own rows
    ManifestTable.append(Seq(Tuple1(3L)).toDF("id"), dir, "b2")
    assert(ManifestTable.read(spark, dir).where("text IS NULL")
      .select("id").as[Long].collect().toSeq.sorted === Seq(3L))
    // a type change is rejected BEFORE any data file lands
    intercept[IllegalArgumentException] {
      ManifestTable.append(Seq((4, "x", 99))
        .toDF("id", "text", "lang"), dir, "b3")
    }
    // time travel reads with the version's OWN schema: v1 has no lang
    assert(!ManifestTable.readVersion(spark, dir, 1L)
      .columns.contains("lang"))
    // compaction materializes the full column set into every file
    ManifestTable.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024)
    assert(ManifestTable.read(spark, dir).where("lang = 'en'")
      .count() === 1)
  }
}
