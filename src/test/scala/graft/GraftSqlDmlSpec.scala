package graft

import org.apache.spark.sql.DataFrame
import graft.ext.ManifestTable

/** SQL `UPDATE` and `MERGE INTO` over graft-manifest tables
  * ([[graft.plans.GraftDmlRule]]): the resolved commands lower to the
  * engine's own `updateWhere` / `merge` / `deleteMatching` /
  * `mergeGeneral` — file-pruned copy-on-write commits — with standard
  * SQL semantics: SET against the OLD row, clause order, partial
  * column lists, NOT MATCHED BY SOURCE, the cardinality-violation
  * raise. What cannot cross the engine's seams (subqueries, non-equi
  * ON) stays a loud rejection, never an approximation.
  */
class GraftSqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private val wh = "/tmp/graft_test/gdml_wh"

  private def sql(q: String): DataFrame = spark.sql(q)

  override def withFixture(test: NoArgTest) = {
    spark.conf.set("spark.sql.catalog.graft_dml", "graft.ext.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dml.warehouse", wh)
    super.withFixture(test)
  }

  private def fsDel(path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
  }

  test("UPDATE: SET evaluates against the OLD row, casts back, commits as 'update'") {
    fsDel(s"$wh/u_swap")
    sql("CREATE TABLE graft_dml.u_swap (id BIGINT, a BIGINT, b BIGINT)")
    sql("INSERT INTO graft_dml.u_swap SELECT id, id * 10, id * 100 FROM range(6)")
    // the classic old-row pin: a simultaneous swap must not chain
    sql("UPDATE graft_dml.u_swap SET a = b, b = a WHERE id >= 3")
    val rows = sql("SELECT id, a, b FROM graft_dml.u_swap ORDER BY id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows === (0L until 6L).map(i =>
      if (i >= 3) (i, i * 100, i * 10) else (i, i * 10, i * 100)))
    val snap = ManifestTable.snapshot(spark, s"$wh/u_swap")
    assert(snap.op === "update")
    // the SET value is cast back to the column type: schema cannot drift
    sql("UPDATE graft_dml.u_swap SET a = a / 2 WHERE id = 0") // div is DOUBLE
    assert(sql("SELECT * FROM graft_dml.u_swap").schema("a").dataType
      === org.apache.spark.sql.types.LongType)
  }

  test("UPDATE rewrites only stats-matched candidate files") {
    fsDel(s"$wh/u_prune")
    val docs = (0L until 4000L)
      .map(i => (i, s"document body $i with some ballast text", i % 7))
      .toDF("id", "text", "n")
    ManifestTable.append(docs, s"$wh/u_prune", "b0")
    ManifestTable.compact(spark, s"$wh/u_prune",
      targetFileBytes = 4L * 1024, clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, s"$wh/u_prune")
    require(before.files.size > 3, s"degenerate: ${before.files.size} files")
    sql("UPDATE graft_dml.u_prune SET n = n + 1000 WHERE id >= 100 AND id < 180")
    val after = ManifestTable.snapshot(spark, s"$wh/u_prune")
    val rewritten = before.files.toSet.diff(after.files.toSet).size
    assert(rewritten > 0 && rewritten < before.files.size / 2,
      s"UPDATE rewrote $rewritten of ${before.files.size} files — " +
        "candidate pruning did not hold")
    assert(sql("SELECT CAST(sum(n) AS BIGINT) FROM graft_dml.u_prune")
      .as[Long].head() ===
      (0L until 4000L).map(i => i % 7 + (if (i >= 100 && i < 180) 1000 else 0)).sum)
  }

  test("MERGE upsert: source keys win, absent keys insert, pruned rewrite") {
    fsDel(s"$wh/m_up")
    sql("CREATE TABLE graft_dml.m_up (id BIGINT, v STRING, n BIGINT)")
    sql("INSERT INTO graft_dml.m_up SELECT id, " +
      "concat('v', id, ' with some ballast text to split files'), id " +
      "FROM range(2000)")
    ManifestTable.compact(spark, s"$wh/m_up",
      targetFileBytes = 4L * 1024, clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, s"$wh/m_up")
    require(before.files.size > 3, s"degenerate: ${before.files.size} files")
    spark.range(1900, 2100).selectExpr(
      "id", "concat('NEW', id) AS v", "id * 2 AS n")
      .createOrReplaceTempView("m_src")
    sql("""MERGE INTO graft_dml.m_up AS t USING m_src AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = ManifestTable.snapshot(spark, s"$wh/m_up")
    assert(after.op === "merge")
    val rewritten = before.files.toSet.diff(after.files.toSet).size
    assert(rewritten < before.files.size,
      s"MERGE rewrote every file — source-key pruning did not hold")
    assert(sql("SELECT count(*) FROM graft_dml.m_up").as[Long].head() === 2100L)
    assert(sql("SELECT v FROM graft_dml.m_up WHERE id = 1950").as[String].head()
      === "NEW1950")
    assert(sql("SELECT v FROM graft_dml.m_up WHERE id = 10").as[String].head()
      === "v10 with some ballast text to split files")
  }

  test("MERGE accepts swapped ON sides and a graft-table source") {
    fsDel(s"$wh/m_two")
    fsDel(s"$wh/m_two_src")
    sql("CREATE TABLE graft_dml.m_two (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.m_two SELECT id, id FROM range(10)")
    sql("CREATE TABLE graft_dml.m_two_src (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.m_two_src SELECT id, id * 100 FROM range(5, 15)")
    sql("""MERGE INTO graft_dml.m_two t USING graft_dml.m_two_src s ON s.id = t.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sql("SELECT CAST(sum(n) AS BIGINT) FROM graft_dml.m_two")
      .as[Long].head() === (0L until 5L).sum + (5L until 15L).map(_ * 100).sum)
  }

  test("MERGE ... WHEN MATCHED THEN DELETE: tombstone apply, pruned rewrite") {
    fsDel(s"$wh/d_mdel")
    sql("CREATE TABLE graft_dml.d_mdel (id BIGINT, v STRING)")
    sql("INSERT INTO graft_dml.d_mdel " +
      "SELECT id, concat('r', id, repeat('-ballast', 16)) FROM range(600)")
    // cluster into id-ranged files so the tombstone batch prunes (2 KB
    // target: the optimized write lands the insert as ONE well-packed
    // file, so the split must be asked for in bytes, not assumed from
    // input partitioning)
    ManifestTable.compact(spark, s"$wh/d_mdel",
      targetFileBytes = 2L * 1024, clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, s"$wh/d_mdel")
    require(before.files.size > 3, s"degenerate: ${before.files.size} files")
    spark.range(100, 160).selectExpr("id")
      .createOrReplaceTempView("d_tomb")
    sql("""MERGE INTO graft_dml.d_mdel t USING d_tomb s ON t.id = s.id
          |WHEN MATCHED THEN DELETE""".stripMargin)
    val after = ManifestTable.snapshot(spark, s"$wh/d_mdel")
    assert(after.op === "delete")
    val rewritten = before.files.toSet.diff(after.files.toSet).size
    assert(rewritten < before.files.size,
      s"tombstone apply rewrote all ${before.files.size} files")
    assert(sql("SELECT count(*) FROM graft_dml.d_mdel").as[Long].head()
      === 540L)
    assert(sql("SELECT count(*) FROM graft_dml.d_mdel WHERE id >= 100 " +
      "AND id < 160").as[Long].head() === 0L)
    // keys absent from the table are a no-op, not an error; an
    // ALL-absent batch commits nothing (candidate pruning proves it)
    val head = after.version
    spark.range(5000, 5010).selectExpr("id")
      .createOrReplaceTempView("d_tomb2")
    sql("""MERGE INTO graft_dml.d_mdel t USING d_tomb2 s ON t.id = s.id
          |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(ManifestTable.headVersion(spark, s"$wh/d_mdel") === head,
      "an unmatched tombstone batch must not commit")
  }

  test("general MERGE: conditional partial SET over both rows, clause order, pruned rewrite") {
    fsDel(s"$wh/g_part")
    sql("CREATE TABLE graft_dml.g_part (id BIGINT, v STRING, n BIGINT)")
    sql("INSERT INTO graft_dml.g_part SELECT id, " +
      "concat('v', id, repeat('-ballast', 16)), id FROM range(2000)")
    ManifestTable.compact(spark, s"$wh/g_part",
      targetFileBytes = 4L * 1024, clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, s"$wh/g_part")
    require(before.files.size > 3, s"degenerate: ${before.files.size} files")
    spark.range(100, 220).selectExpr("id", "id * 10 AS bump")
      .createOrReplaceTempView("g_part_src")
    // first matching clause wins; SET mixes target and source columns;
    // unassigned columns (v) keep their old value
    sql("""MERGE INTO graft_dml.g_part t USING g_part_src s ON t.id = s.id
          |WHEN MATCHED AND t.n % 2 = 0 THEN UPDATE SET n = t.n + s.bump
          |WHEN MATCHED THEN UPDATE SET n = -t.n""".stripMargin)
    val after = ManifestTable.snapshot(spark, s"$wh/g_part")
    assert(after.op === "merge")
    val rewritten = before.files.toSet.diff(after.files.toSet).size
    assert(rewritten > 0 && rewritten < before.files.size,
      s"general MERGE rewrote $rewritten of ${before.files.size} files — " +
        "source-key pruning did not hold")
    val got = sql("SELECT id, n FROM graft_dml.g_part WHERE id >= 90 AND " +
      "id < 230 ORDER BY id").as[(Long, Long)].collect().toSeq
    assert(got === (90L until 230L).map { i =>
      if (i >= 100 && i < 220) (i, if (i % 2 == 0) i + i * 10 else -i)
      else (i, i)
    })
    // v untouched everywhere (partial SET is partial)
    assert(sql("SELECT count(*) FROM graft_dml.g_part WHERE v NOT LIKE 'v%'")
      .as[Long].head() === 0L)
    assert(sql("SELECT count(*) FROM graft_dml.g_part").as[Long].head() === 2000L)
  }

  test("general MERGE: mixed UPDATE+DELETE matched clauses and conditional partial INSERT") {
    fsDel(s"$wh/g_mix")
    sql("CREATE TABLE graft_dml.g_mix (id BIGINT, v STRING, n BIGINT)")
    sql("INSERT INTO graft_dml.g_mix SELECT id, concat('v', id), id FROM range(20)")
    spark.range(10, 30).selectExpr(
      "id", "concat('s', id) AS sv", "id * 2 AS m")
      .createOrReplaceTempView("g_mix_src")
    sql("""MERGE INTO graft_dml.g_mix t USING g_mix_src s ON t.id = s.id
          |WHEN MATCHED AND t.id % 2 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.sv
          |WHEN NOT MATCHED AND s.id < 25 THEN INSERT (id, v) VALUES (s.id, s.sv)""".stripMargin)
    val got = sql("SELECT id, v, n FROM graft_dml.g_mix ORDER BY id")
      .collect().map(r => (r.getLong(0),
        r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val expect =
      (0L until 10L).map(i => (i, s"v$i", i)) ++            // untouched
      (10L until 20L).filter(_ % 2 != 0)
        .map(i => (i, s"s$i", i)) ++                         // updated (v only)
      (20L until 25L).map(i => (i, s"s$i", -1L))             // inserted, n NULL
    assert(got === expect) // evens 10..18 deleted; 25..29 filtered out
  }

  test("general MERGE: NOT MATCHED BY SOURCE update and delete") {
    fsDel(s"$wh/g_nmbs")
    sql("CREATE TABLE graft_dml.g_nmbs (id BIGINT, state STRING)")
    sql("INSERT INTO graft_dml.g_nmbs SELECT id, 'live' FROM range(10)")
    spark.range(4, 8).selectExpr("id").createOrReplaceTempView("g_nmbs_src")
    // sync-to-source: keep named rows, retire a band, drop the rest
    sql("""MERGE INTO graft_dml.g_nmbs t USING g_nmbs_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET state = 'seen'
          |WHEN NOT MATCHED BY SOURCE AND t.id < 2 THEN UPDATE SET state = 'stale'
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = sql("SELECT id, state FROM graft_dml.g_nmbs ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((0L, "stale"), (1L, "stale"),
      (4L, "seen"), (5L, "seen"), (6L, "seen"), (7L, "seen")))
  }

  test("general MERGE: insert-only commits a pure append (no files removed)") {
    fsDel(s"$wh/g_ins")
    sql("CREATE TABLE graft_dml.g_ins (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_ins SELECT id, id FROM range(10)")
    val before = ManifestTable.snapshot(spark, s"$wh/g_ins")
    spark.range(5, 15).selectExpr("id", "id * 100 AS n")
      .createOrReplaceTempView("g_ins_src")
    sql("""MERGE INTO graft_dml.g_ins t USING g_ins_src s ON t.id = s.id
          |WHEN NOT MATCHED AND s.id != 12 THEN INSERT *""".stripMargin)
    val after = ManifestTable.snapshot(spark, s"$wh/g_ins")
    assert(after.op === "merge")
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "insert-only MERGE must not rewrite existing files")
    assert(sql("SELECT id FROM graft_dml.g_ins WHERE n >= 100 ORDER BY id")
      .as[Long].collect().toSeq === Seq(10L, 11L, 13L, 14L))
  }

  test("general MERGE: >1 source row per matched target row raises the cardinality violation") {
    fsDel(s"$wh/g_card")
    sql("CREATE TABLE graft_dml.g_card (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_card SELECT id, id FROM range(10)")
    Seq((5L, 1L), (5L, 2L), (20L, 3L), (20L, 4L)).toDF("id", "n")
      .createOrReplaceTempView("g_card_src")
    val e = intercept[Exception] {
      sql("""MERGE INTO graft_dml.g_card t USING g_card_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("cardinality violation")),
      msgs(e).mkString(" | "))
    // duplicate UNMATCHED keys are fine: each inserts independently
    sql("""MERGE INTO graft_dml.g_card t USING g_card_src s ON t.id = s.id
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_card WHERE id = 20")
      .as[Long].head() === 2L)
  }

  test("MERGE cardinality is CLAUSE-AWARE: disambiguated multi-matches commit (Delta contract)") {
    fsDel(s"$wh/g_card2")
    sql("CREATE TABLE graft_dml.g_card2 (id BIGINT, n BIGINT, ts BIGINT)")
    sql("INSERT INTO graft_dml.g_card2 SELECT id, id, 100 FROM range(6)")
    // two source rows per key, but only the flag=1 row satisfies any
    // matched clause condition — at most one modifier per target: valid
    Seq((2L, 10L, 1L), (2L, 99L, 0L), (3L, 30L, 1L), (3L, 98L, 0L))
      .toDF("id", "v", "flag").createOrReplaceTempView("g_card2_src")
    sql("""MERGE INTO graft_dml.g_card2 t USING g_card2_src s ON t.id = s.id
          |WHEN MATCHED AND s.flag = 1 THEN UPDATE SET n = s.v""".stripMargin)
    assert(sql("SELECT id, n FROM graft_dml.g_card2 ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((0L, 0L), (1L, 1L), (2L, 10L), (3L, 30L), (4L, 4L), (5L, 5L)),
      "the flag-guarded rows must update; the flag=0 twins must not " +
        "modify OR duplicate their targets")
    assert(sql("SELECT count(*) FROM graft_dml.g_card2").as[Long].head()
      === 6L, "the fan-out must collapse back to one row per target")
    // the SCD residue shape: two source rows per key, the ON residue
    // (s.ts > t.ts) admits only the fresh one — valid, matches Delta
    Seq((4L, 40L, 200L), (4L, 41L, 50L)).toDF("id", "v", "ts")
      .createOrReplaceTempView("g_card2_scd")
    sql("""MERGE INTO graft_dml.g_card2 t
          |USING g_card2_scd s ON t.id = s.id AND s.ts > t.ts
          |WHEN MATCHED THEN UPDATE SET n = s.v, ts = s.ts""".stripMargin)
    assert(sql("SELECT n, ts FROM graft_dml.g_card2 WHERE id = 4")
      .as[(Long, Long)].head() === ((40L, 200L)))
    // the GENUINELY ambiguous case still raises: both twins fire
    Seq((5L, 1L, 1L), (5L, 2L, 1L)).toDF("id", "v", "flag")
      .createOrReplaceTempView("g_card2_bad")
    val e = intercept[Exception] {
      sql("""MERGE INTO graft_dml.g_card2 t USING g_card2_bad s ON t.id = s.id
            |WHEN MATCHED AND s.flag = 1 THEN UPDATE SET n = s.v""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("cardinality violation")),
      msgs(e).mkString(" | "))
    // and mutually-exclusive UPDATE/DELETE guards: one modifier each,
    // different clauses — still exactly one firing pair per target
    fsDel(s"$wh/g_card3")
    sql("CREATE TABLE graft_dml.g_card3 (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_card3 SELECT id, id FROM range(4)")
    Seq((1L, 7L, "upd"), (1L, 0L, "noop"), (2L, 0L, "del"), (2L, 0L, "noop"))
      .toDF("id", "v", "op").createOrReplaceTempView("g_card3_src")
    sql("""MERGE INTO graft_dml.g_card3 t USING g_card3_src s ON t.id = s.id
          |WHEN MATCHED AND s.op = 'upd' THEN UPDATE SET n = s.v
          |WHEN MATCHED AND s.op = 'del' THEN DELETE""".stripMargin)
    assert(sql("SELECT id, n FROM graft_dml.g_card3 ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((0L, 0L), (1L, 7L), (3L, 3L)))
  }

  test("MERGE ON t.id = s.src_id: differently-named key equalities, pruned rewrite") {
    fsDel(s"$wh/g_names")
    sql("CREATE TABLE graft_dml.g_names (id BIGINT, v STRING, n BIGINT)")
    sql("INSERT INTO graft_dml.g_names SELECT id, " +
      "concat('v', id, repeat('-ballast', 16)), id FROM range(2000)")
    ManifestTable.compact(spark, s"$wh/g_names",
      targetFileBytes = 4L * 1024, clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, s"$wh/g_names")
    require(before.files.size > 3, s"degenerate: ${before.files.size} files")
    spark.range(1900, 2100).selectExpr("id AS src_id", "id * 2 AS m")
      .createOrReplaceTempView("g_names_src")
    sql("""MERGE INTO graft_dml.g_names t USING g_names_src s
          |ON t.id = s.src_id
          |WHEN MATCHED THEN UPDATE SET n = s.m
          |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (s.src_id, s.m)""".stripMargin)
    val after = ManifestTable.snapshot(spark, s"$wh/g_names")
    assert(after.op === "merge")
    val rewritten = before.files.toSet.diff(after.files.toSet).size
    assert(rewritten > 0 && rewritten < before.files.size / 2,
      s"differently-named-key MERGE rewrote $rewritten of " +
        s"${before.files.size} files — source-key pruning did not hold")
    assert(sql("SELECT count(*) FROM graft_dml.g_names").as[Long].head()
      === 2100L)
    assert(sql("SELECT n FROM graft_dml.g_names WHERE id = 1950")
      .as[Long].head() === 3900L)
    assert(sql("SELECT v FROM graft_dml.g_names WHERE id = 2050")
      .as[String].collect() === Array(null))
  }

  test("MERGE ON with a non-equi residue: the SCD guard — stale source rows do not match") {
    fsDel(s"$wh/g_scd")
    sql("CREATE TABLE graft_dml.g_scd (id BIGINT, ts BIGINT, v STRING)")
    sql("INSERT INTO graft_dml.g_scd VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    Seq((1L, 15L, "A"),   // newer: matches, updates
        (2L, 5L, "OLD"),  // staler: residue false -> NOT MATCHED -> inserts
        (9L, 99L, "NEW")) // absent key: inserts
      .toDF("sid", "sts", "sv").createOrReplaceTempView("g_scd_src")
    sql("""MERGE INTO graft_dml.g_scd t USING g_scd_src s
          |ON t.id = s.sid AND s.sts > t.ts
          |WHEN MATCHED THEN UPDATE SET ts = s.sts, v = s.sv
          |WHEN NOT MATCHED THEN INSERT (id, ts, v) VALUES (s.sid, s.sts, s.sv)""".stripMargin)
    val got = sql("SELECT id, ts, v FROM graft_dml.g_scd ORDER BY id, ts")
      .as[(Long, Long, String)].collect().toSeq
    // NOT MATCHED quantifies over the FULL ON: the stale (2, 5) source
    // row matches no target pair, so standard SQL INSERTs it (a second
    // id=2 row) — exactly what Delta does for the same statement
    assert(got === Seq((1L, 15L, "A"), (2L, 5L, "OLD"), (2L, 20L, "b"),
      (3L, 30L, "c"), (9L, 99L, "NEW")))
  }

  test("MERGE NMBS-only with a residue: semi/anti marking never fans a target row out") {
    fsDel(s"$wh/g_nmbs_res")
    sql("CREATE TABLE graft_dml.g_nmbs_res (id BIGINT, state STRING)")
    sql("INSERT INTO graft_dml.g_nmbs_res SELECT id, 'live' FROM range(6)")
    // id=1 matches TWICE (legal: no matched clause), id=2 only via a
    // residue-false row (=> not matched by source), id=3 once
    Seq((1L, true), (1L, true), (2L, false), (3L, true)).toDF("id", "ok")
      .createOrReplaceTempView("g_nmbs_res_src")
    sql("""MERGE INTO graft_dml.g_nmbs_res t USING g_nmbs_res_src s
          |ON t.id = s.id AND s.ok
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = sql("SELECT id FROM graft_dml.g_nmbs_res ORDER BY id")
      .as[Long].collect().toSeq
    assert(got === Seq(1L, 3L),
      s"expected exactly rows 1 and 3 to survive, got $got")
  }

  test("foldable-yet-Unevaluable SET expressions (current_timestamp) round-trip as SQL") {
    fsDel(s"$wh/g_now")
    sql("CREATE TABLE graft_dml.g_now (id BIGINT, seen TIMESTAMP)")
    sql("INSERT INTO graft_dml.g_now SELECT id, NULL FROM range(4)")
    // UPDATE path (sqlOf): used to crash with Spark's internal
    // "Cannot evaluate expression" before execution
    sql("UPDATE graft_dml.g_now SET seen = current_timestamp() WHERE id < 2")
    assert(sql("SELECT count(*) FROM graft_dml.g_now WHERE seen IS NOT NULL")
      .as[Long].head() === 2L)
    // general-MERGE path (prefixed): same seam, clause SET
    spark.range(0, 3).selectExpr("id").createOrReplaceTempView("g_now_src")
    sql("""MERGE INTO graft_dml.g_now t USING g_now_src s ON t.id = s.id
          |WHEN MATCHED AND t.seen IS NULL THEN UPDATE SET seen = current_timestamp()""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_now WHERE seen IS NULL")
      .as[Long].head() === 1L) // only id=3 (unmatched) stays NULL
  }

  test("a source column named 'present' cannot shadow the match marker") {
    fsDel(s"$wh/g_marker")
    sql("CREATE TABLE graft_dml.g_marker (id BIGINT, present STRING)")
    sql("INSERT INTO graft_dml.g_marker VALUES (1, 'old1'), (2, 'old2'), (3, 'old3')")
    Seq((1L, "s1"), (9L, "s9")).toDF("id", "present")
      .createOrReplaceTempView("g_marker_src")
    // the clause SET reads s.present (prefixes to __s_present, which the
    // old __s_present marker silently replaced -> boolean corruption)
    sql("""MERGE INTO graft_dml.g_marker t USING g_marker_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET present = s.present
          |WHEN NOT MATCHED THEN INSERT (id, present) VALUES (s.id, s.present)""".stripMargin)
    assert(sql("SELECT id, present FROM graft_dml.g_marker ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "s1"), (2L, "old2"), (3L, "old3"), (9L, "s9")))
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-new columns auto-ADD nullable, old rows null-fill") {
    fsDel(s"$wh/g_evo")
    sql("CREATE TABLE graft_dml.g_evo (id BIGINT, v STRING)")
    sql("INSERT INTO graft_dml.g_evo SELECT id, concat('v', id) FROM range(10)")
    spark.range(5, 15).selectExpr(
      "id", "concat('s', id) AS v", "id * 7 AS extra")
      .createOrReplaceTempView("g_evo_src")
    // WITHOUT the clause, an extra source column stays the documented
    // loud rejection (silently dropping an evolving source's column
    // loses data with no signal)
    val e = intercept[Exception] {
      sql("""MERGE INTO graft_dml.g_evo t USING g_evo_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("columns the table lacks")),
      msgs(e).mkString(" | "))
    // WITH it, the analyzer's ResolveMergeIntoSchemaEvolution commits
    // the ADD through the catalog (AUTOMATIC_SCHEMA_EVOLUTION) first
    sql("""MERGE WITH SCHEMA EVOLUTION
          |INTO graft_dml.g_evo t USING g_evo_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sql("SELECT id, v, extra FROM graft_dml.g_evo ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got === (0L until 5L).map(i => (i, s"v$i", -1L)) ++
      (5L until 15L).map(i => (i, s"s$i", i * 7)))
    // the evolved column is nullable metadata, commit op is merge
    val snap = ManifestTable.snapshot(spark, s"$wh/g_evo")
    assert(snap.op === "merge")
  }

  test("WITH SCHEMA EVOLUTION commits the ADD at analysis time — a failing merge leaves the column (pinned Spark contract)") {
    fsDel(s"$wh/g_evo_fail")
    sql("CREATE TABLE graft_dml.g_evo_fail (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_evo_fail VALUES (1, 10)")
    // duplicate ON keys -> the cardinality raise fires at EXECUTION,
    // after Spark's ResolveMergeIntoSchemaEvolution already committed
    // the nullable ADD during analysis
    Seq((1L, 1L, 2L), (1L, 2L, 3L)).toDF("id", "n", "extra")
      .createOrReplaceTempView("g_evo_fail_src")
    intercept[Exception] {
      sql("""MERGE WITH SCHEMA EVOLUTION
            |INTO graft_dml.g_evo_fail t USING g_evo_fail_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    // the rows are untouched; the evolved column stays — nullable,
    // empty, loud in history as its own metadata commit, removable
    assert(sql("SELECT id, n, extra FROM graft_dml.g_evo_fail")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.isNullAt(2))).toSeq === Seq((1L, 10L, true)))
    assert(ManifestTable.snapshot(spark, s"$wh/g_evo_fail").op
      === "metadata")
    sql("ALTER TABLE graft_dml.g_evo_fail DROP COLUMN extra")
    assert(spark.table("graft_dml.g_evo_fail").columns.toSeq
      === Seq("id", "n"))
  }

  test("MERGE WITH SCHEMA EVOLUTION after a RENAME binds a fresh physical slot") {
    fsDel(s"$wh/g_evo_ren")
    sql("CREATE TABLE graft_dml.g_evo_ren (id BIGINT, a BIGINT)")
    sql("INSERT INTO graft_dml.g_evo_ren SELECT id, id * 10 FROM range(6)")
    // rename keeps the PHYSICAL name 'a' bound to logical 'b'
    sql("ALTER TABLE graft_dml.g_evo_ren RENAME COLUMN a TO b")
    // the source resurrects the LOGICAL name 'a' — evolution must bind
    // a fresh physical slot, never the taken one (b's bytes)
    spark.range(4, 8).selectExpr("id", "id * 1000 AS a")
      .createOrReplaceTempView("g_evo_ren_src")
    sql("""MERGE WITH SCHEMA EVOLUTION
          |INTO graft_dml.g_evo_ren t USING g_evo_ren_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET a = s.a
          |WHEN NOT MATCHED THEN INSERT (id, a) VALUES (s.id, s.a)""".stripMargin)
    val got = sql("SELECT id, b, a FROM graft_dml.g_evo_ren ORDER BY id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got === Seq((0L, 0L, -1L), (1L, 10L, -1L), (2L, 20L, -1L),
      (3L, 30L, -1L), (4L, 40L, 4000L), (5L, 50L, 5000L),
      (6L, -1L, 6000L), (7L, -1L, 7000L)))
  }

  test("DELETE/UPDATE WHERE ... IN (subquery): uncorrelated subqueries literalize and prune") {
    fsDel(s"$wh/g_subq")
    fsDel(s"$wh/g_subq_keys")
    sql("CREATE TABLE graft_dml.g_subq (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_subq SELECT id, id FROM range(20)")
    sql("CREATE TABLE graft_dml.g_subq_keys (k BIGINT)")
    sql("INSERT INTO graft_dml.g_subq_keys VALUES (3), (5), (7), (null)")
    // UPDATE through an IN (subquery over another graft table)
    sql("""UPDATE graft_dml.g_subq SET n = n + 100
          |WHERE id IN (SELECT k FROM graft_dml.g_subq_keys)""".stripMargin)
    assert(sql("SELECT id FROM graft_dml.g_subq WHERE n >= 100 ORDER BY id")
      .as[Long].collect().toSeq === Seq(3L, 5L, 7L))
    // NOT IN over a list containing NULL selects NOTHING (three-valued
    // logic must survive the literalization)
    val head0 = ManifestTable.headVersion(spark, s"$wh/g_subq")
    sql("""DELETE FROM graft_dml.g_subq
          |WHERE id NOT IN (SELECT k FROM graft_dml.g_subq_keys)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_subq").as[Long].head() === 20L,
      "NOT IN (list with NULL) must select no rows")
    // DELETE through IN (subquery) — non-null keys go
    sql("""DELETE FROM graft_dml.g_subq
          |WHERE id IN (SELECT k FROM graft_dml.g_subq_keys WHERE k > 4)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_subq").as[Long].head() === 18L)
    assert(ManifestTable.snapshot(spark, s"$wh/g_subq").op === "delete")
    // uncorrelated EXISTS / scalar subqueries fold to constants
    sql("""DELETE FROM graft_dml.g_subq WHERE id < (SELECT min(k) + 1
          |FROM graft_dml.g_subq_keys) AND EXISTS (SELECT 1 FROM
          |graft_dml.g_subq_keys WHERE k = 3)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_subq").as[Long].head()
      === 14L) // ids 0..3 went (min(k)+1 = 4)
    // an IN (empty subquery) is FALSE: the delete touches no rows
    // (deleteWhere still absorbs its opId as an empty commit)
    val head1 = ManifestTable.headVersion(spark, s"$wh/g_subq")
    sql("""DELETE FROM graft_dml.g_subq
          |WHERE id IN (SELECT k FROM graft_dml.g_subq_keys WHERE k > 99)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_subq").as[Long].head()
      === 14L, "an empty-subquery DELETE must not remove rows")
    assert(head1 > head0)
  }

  test("DELETE serves ANY predicate shape (not just the V1-translatable subset)") {
    fsDel(s"$wh/g_delany")
    sql("CREATE TABLE graft_dml.g_delany (id BIGINT, s STRING)")
    sql("INSERT INTO graft_dml.g_delany SELECT id, concat('v', id) FROM range(20)")
    // modulo arithmetic — no V1 Filter form; the old SupportsDeleteV2
    // seam ERRORED here ("Cannot delete from table ... where")
    sql("DELETE FROM graft_dml.g_delany WHERE id % 3 = 0")
    assert(sql("SELECT count(*) FROM graft_dml.g_delany").as[Long].head()
      === 13L)
    // a string function predicate
    sql("DELETE FROM graft_dml.g_delany WHERE length(s) > 2")
    assert(sql("SELECT id FROM graft_dml.g_delany ORDER BY id")
      .as[Long].collect().toSeq ===
      Seq(1L, 2L, 4L, 5L, 7L, 8L), "v10+ (3 chars) must be gone")
    assert(ManifestTable.snapshot(spark, s"$wh/g_delany").op === "delete")
    // unconditional DELETE = truncate-shaped, still one commit
    sql("DELETE FROM graft_dml.g_delany")
    assert(sql("SELECT count(*) FROM graft_dml.g_delany").as[Long].head()
      === 0L)
  }

  test("UPDATE SET c = (uncorrelated subquery): literalizes once per statement") {
    fsDel(s"$wh/g_setq")
    fsDel(s"$wh/g_setq_src")
    sql("CREATE TABLE graft_dml.g_setq (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_setq SELECT id, id FROM range(5)")
    sql("CREATE TABLE graft_dml.g_setq_src (k BIGINT)")
    sql("INSERT INTO graft_dml.g_setq_src VALUES (10), (40)")
    // scalar subquery value, no WHERE subquery
    sql("""UPDATE graft_dml.g_setq
          |SET n = (SELECT max(k) FROM graft_dml.g_setq_src)
          |WHERE id >= 3""".stripMargin)
    assert(sql("SELECT id, n FROM graft_dml.g_setq ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 40L), (4L, 40L)))
    // subqueries in BOTH the condition and the value; value may mix
    // the literal with old-row columns
    sql("""UPDATE graft_dml.g_setq
          |SET n = n + (SELECT min(k) FROM graft_dml.g_setq_src)
          |WHERE id IN (SELECT k / 10 FROM graft_dml.g_setq_src)""".stripMargin)
    assert(sql("SELECT id, n FROM graft_dml.g_setq ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((0L, 0L), (1L, 11L), (2L, 2L), (3L, 40L), (4L, 50L)))
    // a scalar subquery returning >1 row is a loud error, and a
    // CORRELATED value subquery names the MERGE remedy
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val multi = intercept[Exception] {
      sql("""UPDATE graft_dml.g_setq
            |SET n = (SELECT k FROM graft_dml.g_setq_src)
            |WHERE id = 0""".stripMargin)
    }
    assert(msgs(multi).exists(_.contains("more than one row")),
      msgs(multi).mkString(" | "))
    val corr = intercept[Exception] {
      sql("""UPDATE graft_dml.g_setq t
            |SET n = (SELECT max(k) FROM graft_dml.g_setq_src s
            |         WHERE s.k > t.id)
            |WHERE id = 0""".stripMargin)
    }
    // NON-EQUI correlation in the SET subquery: the equality shapes
    // lower (see the correlated-scalar test); this one stays loud,
    // naming the MERGE rewrite
    assert(msgs(corr).exists(m =>
      m.contains("correlation") && m.contains("MERGE")),
      msgs(corr).mkString(" | "))
  }

  test("IN (subquery) beyond the distinct-key ceiling raises with the MERGE remedy") {
    fsDel(s"$wh/g_subq_big")
    sql("CREATE TABLE graft_dml.g_subq_big (id BIGINT)")
    sql("INSERT INTO graft_dml.g_subq_big SELECT id FROM range(5)")
    spark.range(20001).selectExpr("id AS k")
      .createOrReplaceTempView("g_subq_big_keys")
    val e = intercept[Exception] {
      sql("""DELETE FROM graft_dml.g_subq_big
            |WHERE id IN (SELECT k FROM g_subq_big_keys)""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("distinct") && m.contains("MERGE")),
      msgs(e).mkString(" | "))
  }

  test("MERGE INSERT fills omitted columns from declared DEFAULTs, like INSERT INTO") {
    fsDel(s"$wh/g_dflt")
    sql("CREATE TABLE graft_dml.g_dflt " +
      "(id BIGINT, n BIGINT DEFAULT 7, s STRING DEFAULT 'x')")
    sql("INSERT INTO graft_dml.g_dflt VALUES (1, 1, 'a')")
    spark.range(2, 4).selectExpr("id AS k")
      .createOrReplaceTempView("g_dflt_src")
    sql("""MERGE INTO graft_dml.g_dflt t USING g_dflt_src s ON t.id = s.k
          |WHEN NOT MATCHED THEN INSERT (id) VALUES (s.k)""".stripMargin)
    assert(sql("SELECT id, n, s FROM graft_dml.g_dflt ORDER BY id")
      .as[(Long, Long, String)].collect().toSeq ===
      Seq((1L, 1L, "a"), (2L, 7L, "x"), (3L, 7L, "x")),
      "partial MERGE inserts and partial INSERT column lists must agree")
    // UPDATE SET c = DEFAULT resolves through the analyzer to the
    // declared literal and rides the normal update path
    sql("UPDATE graft_dml.g_dflt SET n = DEFAULT WHERE id = 1")
    assert(sql("SELECT n FROM graft_dml.g_dflt WHERE id = 1")
      .as[Long].head() === 7L)
  }

  test("DELETE/UPDATE WHERE [NOT] EXISTS and correlated IN lower to key-pruned joins") {
    fsDel(s"$wh/g_corr")
    fsDel(s"$wh/g_corr_src")
    sql("CREATE TABLE graft_dml.g_corr (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_corr SELECT id, id FROM range(20)")
    sql("CREATE TABLE graft_dml.g_corr_src (sid BIGINT, tag STRING)")
    sql("INSERT INTO graft_dml.g_corr_src VALUES " +
      "(3, 'del'), (3, 'del'), (5, 'del'), (7, 'keep'), (null, 'del')")
    // positive EXISTS, no residual → deleteMatching (op 'delete');
    // duplicate and NULL source keys are absorbed (per-KEY existence)
    sql("""DELETE FROM graft_dml.g_corr t WHERE EXISTS
          |  (SELECT 1 FROM graft_dml.g_corr_src s
          |   WHERE s.sid = t.id AND s.tag = 'del')""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_corr").as[Long].head()
      === 18L) // ids 3, 5 went; 7 is 'keep'; NULL never matches
    assert(ManifestTable.snapshot(spark, s"$wh/g_corr").op === "delete")
    // positive EXISTS with a RESIDUAL target predicate → one
    // conditional WHEN MATCHED THEN DELETE (op 'merge')
    sql("""DELETE FROM graft_dml.g_corr t WHERE EXISTS
          |  (SELECT 1 FROM graft_dml.g_corr_src s WHERE s.sid = t.id)
          |  AND t.n >= 7""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_corr").as[Long].head()
      === 17L) // only id 7 satisfies both
    assert(ManifestTable.snapshot(spark, s"$wh/g_corr").op === "merge")
    // correlated UPDATE: SET sees the OLD row, matched rows only
    sql("""UPDATE graft_dml.g_corr t SET n = n + 100 WHERE EXISTS
          |  (SELECT 1 FROM graft_dml.g_corr_src s
          |   WHERE s.sid = t.id AND s.tag = 'keep')""".stripMargin)
    assert(sql("SELECT id FROM graft_dml.g_corr WHERE n >= 100")
      .as[Long].collect().toSeq === Seq.empty, // id 7 was deleted above
      "no 'keep' id survives, so no row may update")
    // NOT EXISTS → anti (NOT MATCHED BY SOURCE); residual narrows it
    sql("""UPDATE graft_dml.g_corr t SET n = -1 WHERE NOT EXISTS
          |  (SELECT 1 FROM graft_dml.g_corr_src s WHERE s.sid = t.id)
          |  AND t.id < 2""".stripMargin)
    assert(sql("SELECT id FROM graft_dml.g_corr WHERE n = -1 ORDER BY id")
      .as[Long].collect().toSeq === Seq(0L, 1L))
    // correlated IN (one key via the IN values, one via an equality
    // INSIDE the subquery body): both equalities become join keys
    sql("""DELETE FROM graft_dml.g_corr t
          |WHERE n IN (SELECT sid FROM graft_dml.g_corr_src s
          |            WHERE s.sid = t.id)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_corr").as[Long].head()
      === 17L, "the id=n rows among {3,5,7,null} are gone — a no-op")
    // multi-column IN (uncorrelated values tuple) routes through the
    // same join — the single-column literalizer is not its ceiling
    sql("""DELETE FROM graft_dml.g_corr t
          |WHERE (id, n) IN (SELECT sid, sid FROM graft_dml.g_corr_src)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_corr ORDER BY 1")
      .as[Long].head() === 17L,
      "ids 3/5 are gone and 0/1 carry n=-1 — no (id,n) pair matches")
    sql("INSERT INTO graft_dml.g_corr VALUES (3, 3)")
    sql("""DELETE FROM graft_dml.g_corr t
          |WHERE (id, n) IN (SELECT sid, sid FROM graft_dml.g_corr_src)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_corr").as[Long].head()
      === 17L, "the re-inserted (3,3) pair must match and go")
  }

  test("self-referential EXISTS: the reconciliation idiom over one table") {
    fsDel(s"$wh/g_self")
    sql("CREATE TABLE graft_dml.g_self (k BIGINT, id BIGINT, bad BIGINT)")
    sql("INSERT INTO graft_dml.g_self VALUES " +
      "(1, 10, 0), (1, 11, 1), (2, 20, 0), (3, 30, 0), (3, 31, 0)")
    // delete every row whose KEY has a flagged witness anywhere in the
    // SAME table — the subquery snapshot is the pre-delete head
    sql("""DELETE FROM graft_dml.g_self a WHERE EXISTS
          |  (SELECT 1 FROM graft_dml.g_self b
          |   WHERE b.k = a.k AND b.bad = 1)""".stripMargin)
    assert(sql("SELECT id FROM graft_dml.g_self ORDER BY id")
      .as[Long].collect().toSeq === Seq(20L, 30L, 31L),
      "both k=1 rows go (one is the witness)")
    // the classic keep-first dedup needs a NON-EQUI self-correlation
    // (b.id < a.id): stays a loud no naming the MERGE rewrite — never
    // a wrong approximation
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      sql("""DELETE FROM graft_dml.g_self a WHERE EXISTS
            |  (SELECT 1 FROM graft_dml.g_self b
            |   WHERE b.k = a.k AND b.id < a.id)""".stripMargin)
    }
    assert(msgs(e).exists(_.contains("equality correlation")),
      msgs(e).mkString(" | "))
    // ...and the working spelling of keep-first dedup: MERGE on the
    // min-id-per-key source, delete the rest
    sql("""MERGE INTO graft_dml.g_self t
          |USING (SELECT k, min(id) AS keep_id FROM graft_dml.g_self
          |       GROUP BY k) s
          |ON t.k = s.k AND t.id <> s.keep_id
          |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(sql("SELECT id FROM graft_dml.g_self ORDER BY id")
      .as[Long].collect().toSeq === Seq(20L, 30L))
  }

  test("correlated EXISTS DELETE: key-pruned candidates, no key-count ceiling") {
    fsDel(s"$wh/g_corr_big")
    fsDel(s"$wh/g_corr_big_src")
    sql("CREATE TABLE graft_dml.g_corr_big (id BIGINT, t STRING)")
    sql("INSERT INTO graft_dml.g_corr_big SELECT id, " +
      "concat('body ', id, ' with ballast text to split files') " +
      "FROM range(4000)")
    ManifestTable.compact(spark, s"$wh/g_corr_big",
      targetFileBytes = 4L * 1024, clusterBy = Seq("id"))
    val before = ManifestTable.snapshot(spark, s"$wh/g_corr_big")
    require(before.files.size > 3, s"degenerate: ${before.files.size} files")
    // a key set FAR past the 10k literalization ceiling: the join path
    // must serve it (the IN literalizer would raise here)
    spark.range(20000).selectExpr("id + 100 AS k")
      .where("k < 180").createOrReplaceTempView("g_corr_narrow")
    sql("""DELETE FROM graft_dml.g_corr_big t WHERE EXISTS
          |  (SELECT 1 FROM g_corr_narrow s WHERE s.k = t.id)""".stripMargin)
    val after = ManifestTable.snapshot(spark, s"$wh/g_corr_big")
    assert(sql("SELECT count(*) FROM graft_dml.g_corr_big").as[Long].head()
      === 3920L)
    val rewritten = before.files.toSet.diff(after.files.toSet).size
    assert(rewritten > 0 && rewritten < before.files.size / 2,
      s"correlated DELETE rewrote $rewritten of ${before.files.size} " +
        "files — source-key candidate pruning did not hold")
    // and the genuinely unbounded set (20k keys) commits too
    spark.range(20000).selectExpr("id AS k")
      .createOrReplaceTempView("g_corr_wide")
    sql("""DELETE FROM graft_dml.g_corr_big t WHERE EXISTS
          |  (SELECT 1 FROM g_corr_wide s WHERE s.k = t.id)""".stripMargin)
    assert(sql("SELECT count(*) FROM graft_dml.g_corr_big").as[Long].head()
      === 0L)
  }

  test("struct-field UPDATE: rebuilds the column, NULL struct stays NULL, nested paths") {
    fsDel(s"$wh/g_struct")
    sql("CREATE TABLE graft_dml.g_struct (id BIGINT, " +
      "meta STRUCT<lang: STRING, deep: STRUCT<a: BIGINT, b: STRING>>)")
    sql("INSERT INTO graft_dml.g_struct VALUES " +
      "(1, named_struct('lang', 'de', 'deep', named_struct('a', 10L, 'b', 'x'))), " +
      "(2, named_struct('lang', 'fr', 'deep', named_struct('a', 20L, 'b', 'y'))), " +
      "(3, CAST(NULL AS STRUCT<lang: STRING, deep: STRUCT<a: BIGINT, b: STRING>>))")
    // one field changes, siblings (including the nested struct) survive
    sql("UPDATE graft_dml.g_struct SET meta.lang = 'en' WHERE id = 1")
    assert(sql("SELECT meta.lang, meta.deep.a, meta.deep.b " +
      "FROM graft_dml.g_struct WHERE id = 1")
      .as[(String, Long, String)].head() === (("en", 10L, "x")))
    // nested two-level path
    sql("UPDATE graft_dml.g_struct SET meta.deep.a = meta.deep.a + 5 " +
      "WHERE id = 2")
    assert(sql("SELECT meta.lang, meta.deep.a, meta.deep.b " +
      "FROM graft_dml.g_struct WHERE id = 2")
      .as[(String, Long, String)].head() === (("fr", 25L, "y")))
    // Column.withField semantics: a NULL struct has no part to update
    // — it stays NULL, never sprouts a half-filled struct
    sql("UPDATE graft_dml.g_struct SET meta.lang = 'zz' WHERE id = 3")
    assert(sql("SELECT meta IS NULL FROM graft_dml.g_struct WHERE id = 3")
      .as[Boolean].head(), "NULL struct must survive a field update")
    // two fields of one struct in one statement
    sql("UPDATE graft_dml.g_struct SET meta.lang = 'it', meta.deep.b = 'q' " +
      "WHERE id = 1")
    assert(sql("SELECT meta.lang, meta.deep.a, meta.deep.b " +
      "FROM graft_dml.g_struct WHERE id = 1")
      .as[(String, Long, String)].head() === (("it", 10L, "q")))
    // MERGE clauses take struct-field SETs too — values may read the
    // SOURCE row; siblings survive; NULL structs stay NULL
    Seq((1L, "pt"), (3L, "ru")).toDF("k", "l")
      .createOrReplaceTempView("g_struct_src")
    sql("""MERGE INTO graft_dml.g_struct t USING g_struct_src s
          |ON t.id = s.k
          |WHEN MATCHED THEN UPDATE SET meta.lang = s.l""".stripMargin)
    assert(sql("SELECT meta.lang, meta.deep.a FROM graft_dml.g_struct " +
      "WHERE id = 1").as[(String, Long)].head() === (("pt", 10L)))
    assert(sql("SELECT meta IS NULL FROM graft_dml.g_struct WHERE id = 3")
      .as[Boolean].head(),
      "a NULL struct must survive a MERGE field update")
    // whole-column + field assignment to the same column: loud
    val e = intercept[Exception] {
      sql("UPDATE graft_dml.g_struct SET meta = NULL, meta.lang = 'x' " +
        "WHERE id = 1")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("more than once") ||
      m.toLowerCase.contains("conflict") ||
      m.toLowerCase.contains("duplicate")), msgs(e).mkString(" | "))
  }

  test("unsupported DML shapes are a loud no, never an approximation") {
    fsDel(s"$wh/d_err")
    sql("CREATE TABLE graft_dml.d_err (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.d_err SELECT id, id FROM range(10)")
    spark.range(5).selectExpr("id", "id AS n")
      .createOrReplaceTempView("d_src")
    def rejects(q: String, needle: String): Unit = {
      val e = intercept[Exception] { sql(q) }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.toLowerCase.contains(needle.toLowerCase)),
        s"expected '$needle' in: ${msgs(e).mkString(" | ")}")
    }
    // NON-EQUI correlation cannot drive key-pruned candidates: loud,
    // naming the MERGE rewrite (equality correlation lowers fine —
    // see the correlated-subquery test)
    rejects("DELETE FROM graft_dml.d_err t WHERE EXISTS " +
      "(SELECT 1 FROM d_src s WHERE s.id = t.id AND s.n > t.n)",
      "equality correlation")
    // NOT IN over a NULLABLE target column without its own IS NOT NULL
    // conjunct: the NULL-veto semantics are not an anti-join — loud,
    // naming the rewrites (the provable shapes lower — see the NOT IN
    // test)
    rejects("DELETE FROM graft_dml.d_err t WHERE id NOT IN " +
      "(SELECT n FROM d_src s WHERE s.id = t.id)",
      "NOT EXISTS")
    // a theta MERGE with OVERLAPPING matches keeps the cardinality
    // raise: >1 source row fires a matched clause on one target row
    rejects("""MERGE INTO graft_dml.d_err t USING d_src s ON t.id > s.id
              |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin,
      "cardinality")
  }

  test("UPDATE SET c = (correlated scalar subquery): null-fill, raise on >1, key-joined") {
    fsDel(s"$wh/g_csq")
    sql("CREATE TABLE graft_dml.g_csq (id BIGINT, n BIGINT, s STRING)")
    sql("INSERT INTO graft_dml.g_csq SELECT id, id, CONCAT('r', id) FROM range(6)")
    // enrich source: ids 1 and 4 present, id 3 present TWICE with
    // distinct values (the cardinality trap)
    Seq((1L, 10L), (4L, 40L), (3L, 30L), (3L, 31L)).toDF("k", "v")
      .createOrReplaceTempView("g_csq_src")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the enrichment idiom: matched rows take the joined value, rows
    // with NO match null-fill (SQL scalar-subquery semantics), rows
    // outside the WHERE are untouched
    sql("""UPDATE graft_dml.g_csq t
          |SET n = (SELECT v FROM g_csq_src s WHERE s.k = t.id)
          |WHERE id <= 2""".stripMargin)
    assert(sql("SELECT id, n FROM graft_dml.g_csq ORDER BY id")
      .as[(Long, Option[Long])].collect().toSeq ===
      Seq((0L, None), (1L, Some(10L)), (2L, None), (3L, Some(3L)),
        (4L, Some(4L)), (5L, Some(5L))),
      "no-match rows inside the WHERE must null-fill; outside untouched")
    // an expression AROUND the subquery re-evaluates with the slot
    // nulled: coalesce((SELECT ...), -1) null-fills to -1
    sql("""UPDATE graft_dml.g_csq t
          |SET n = coalesce((SELECT v FROM g_csq_src s WHERE s.k = t.id), -1)
          |WHERE id IN (2, 4)""".stripMargin)
    assert(sql("SELECT n FROM graft_dml.g_csq WHERE id IN (2, 4) ORDER BY id")
      .as[Long].collect().toSeq === Seq(-1L, 40L))
    // >1 DISTINCT value for a matched key: the scalar "more than one
    // row" raise, through the merge cardinality probe
    val multi = intercept[Exception] {
      sql("""UPDATE graft_dml.g_csq t
            |SET n = (SELECT v FROM g_csq_src s WHERE s.k = t.id)
            |WHERE id = 3""".stripMargin)
    }
    assert(msgs(multi).exists(_.toLowerCase.contains("cardinality")),
      msgs(multi).mkString(" | "))
    // aggregate at the subquery root: groups on the correlation key;
    // null-on-empty aggregates only
    sql("""UPDATE graft_dml.g_csq t
          |SET n = (SELECT max(v) + min(v) FROM g_csq_src s WHERE s.k = t.id)
          |WHERE id >= 3""".stripMargin)
    assert(sql("SELECT id, n FROM graft_dml.g_csq WHERE id >= 3 ORDER BY id")
      .as[(Long, Option[Long])].collect().toSeq ===
      Seq((3L, Some(61L)), (4L, Some(80L)), (5L, None)),
      "aggregate decorrelation must group per key and null-fill misses")
    // count() is 0 on empty input — the group-by cannot represent it
    val cnt = intercept[Exception] {
      sql("""UPDATE graft_dml.g_csq t
            |SET n = (SELECT count(*) FROM g_csq_src s WHERE s.k = t.id)""".stripMargin)
    }
    assert(msgs(cnt).exists(_.contains("NULL on empty")),
      msgs(cnt).mkString(" | "))
    // a correlated SET may ride an UNCORRELATED-subquery WHERE: the
    // WHERE literalizes at run and doubles as the scope + clause guard
    sql("""UPDATE graft_dml.g_csq t
          |SET n = (SELECT max(v) FROM g_csq_src s WHERE s.k = t.id)
          |WHERE id IN (SELECT k - 3 FROM g_csq_src WHERE k = 4)""".stripMargin)
    // WHERE id IN (1): id=1 takes max(v where k=1) = 10
    assert(sql("SELECT n FROM graft_dml.g_csq WHERE id = 1")
      .as[Long].head() === 10L,
      "the literalized WHERE must gate the correlated SET")
    // two correlated SET values: one source frame per statement
    val two = intercept[Exception] {
      sql("""UPDATE graft_dml.g_csq t SET
            |  n = (SELECT v FROM g_csq_src s WHERE s.k = t.id),
            |  s = (SELECT CAST(v AS STRING) FROM g_csq_src s WHERE s.k = t.id)""".stripMargin)
    }
    assert(msgs(two).exists(_.contains("one correlated subquery SET")),
      msgs(two).mkString(" | "))
  }

  test("MERGE: uncorrelated subqueries in clause conditions, SET values and VALUES literalize") {
    fsDel(s"$wh/g_msq")
    sql("CREATE TABLE graft_dml.g_msq (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_msq SELECT id, id * 10 FROM range(6)")
    Seq(2L, 4L, 8L).toDF("k").createOrReplaceTempView("g_msq_src")
    // min(k)=2, max(k)=8, count=3 — all exact
    sql("""MERGE INTO graft_dml.g_msq t USING g_msq_src s ON t.id = s.k
          |WHEN MATCHED AND t.n > (SELECT min(k) FROM g_msq_src) * 10
          |  THEN UPDATE SET n = t.n + (SELECT max(k) FROM g_msq_src)
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED THEN INSERT (id, n)
          |  VALUES (s.k, (SELECT count(*) FROM g_msq_src))""".stripMargin)
    // id=2: n=20 NOT > 20 → second clause deletes; id=4: n=40 > 20 →
    // n=48; id=8: unmatched → insert (8, 3)
    assert(sql("SELECT id, n FROM graft_dml.g_msq ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((0L, 0L), (1L, 10L), (3L, 30L), (4L, 48L), (5L, 50L), (8L, 3L)))
    // a CORRELATED clause subquery stays loud, naming the USING-source
    // rewrite (the analyzer resolves it; our lowering refuses it)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val corr = intercept[Exception] {
      sql("""MERGE INTO graft_dml.g_msq t USING g_msq_src s ON t.id = s.k
            |WHEN MATCHED AND t.n <
            |    (SELECT max(x.k) FROM g_msq_src x WHERE x.k = t.id)
            |  THEN DELETE""".stripMargin)
    }
    assert(msgs(corr).exists(m =>
      m.contains("CORRELATED") && m.contains("USING source")),
      msgs(corr).mkString(" | "))
    // an uncorrelated subquery in the ON RESIDUE rides the same held
    // path: matched only above the min(k)=2 threshold
    sql("""MERGE INTO graft_dml.g_msq t USING g_msq_src s
          |ON t.id = s.k AND t.n > (SELECT min(k) FROM g_msq_src) * 3
          |WHEN MATCHED THEN UPDATE SET n = 0""".stripMargin)
    // keys 4 and 8 match by id; residue n > 6: id=4 has n=48 -> 0;
    // id=8 has n=3, fails the residue -> untouched
    assert(sql("SELECT id, n FROM graft_dml.g_msq WHERE id IN (4, 8) " +
      "ORDER BY id").as[(Long, Long)].collect().toSeq ===
      Seq((4L, 0L), (8L, 3L)),
      "a held ON residue must literalize and gate MATCHED")
  }

  test("theta MERGE (no equality ON): full-scope lowering with SQL semantics intact") {
    fsDel(s"$wh/g_theta")
    sql("CREATE TABLE graft_dml.g_theta (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_theta SELECT id, id FROM range(10)")
    // disjoint ranges: every target row matches at most one source row
    Seq((2L, 5L, 100L), (7L, 9L, 200L)).toDF("lo", "hi", "bump")
      .createOrReplaceTempView("g_theta_src")
    sql("""MERGE INTO graft_dml.g_theta t USING g_theta_src s
          |ON t.id >= s.lo AND t.id < s.hi
          |WHEN MATCHED THEN UPDATE SET n = t.n + s.bump""".stripMargin)
    assert(sql("SELECT id, n FROM graft_dml.g_theta ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      (0L until 10L).map(i =>
        (i, if (i >= 2 && i < 5) i + 100L
            else if (i >= 7 && i < 9) i + 200L else i)),
      "theta MERGE must update exactly the range-matched rows")
    assert(ManifestTable.snapshot(spark, s"$wh/g_theta").op === "merge")
  }

  test("DELETE/UPDATE WHERE <scalar comparison>: correlated scalar predicates lower key-joined") {
    fsDel(s"$wh/g_wsc")
    sql("CREATE TABLE graft_dml.g_wsc (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_wsc SELECT id, id * 10 FROM range(8)")
    // thresholds per id: ids 0-3 present (threshold id*10 + 5 for even,
    // id*10 - 5 for odd); ids 4-7 have NO row (scalar NULL -> never
    // selected); id 2 carries TWO distinct thresholds (the raise)
    Seq((0L, 5L), (1L, 5L), (3L, 35L), (2L, 25L), (2L, 26L))
      .toDF("k", "thr").createOrReplaceTempView("g_wsc_src")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // n < per-key threshold: id 0 (0 < 5 yes), id 1 (10 < 5 no),
    // id 3 (30 < 35 yes); ids without a threshold row are NOT deleted
    // (NULL comparison filters, SQL three-valued semantics)
    sql("""DELETE FROM graft_dml.g_wsc t
          |WHERE n < (SELECT thr FROM g_wsc_src s
          |           WHERE s.k = t.id AND s.k <> 2)
          |  AND id <> 7""".stripMargin)
    assert(sql("SELECT id FROM graft_dml.g_wsc ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 4L, 5L, 6L, 7L),
      "only rows whose NON-NULL per-key threshold exceeds n may delete")
    assert(ManifestTable.snapshot(spark, s"$wh/g_wsc").op === "merge")
    // UPDATE under an aggregate-rooted scalar comparison
    sql("""UPDATE graft_dml.g_wsc t SET n = n + 1
          |WHERE n >= (SELECT min(thr) * 2 FROM g_wsc_src s
          |            WHERE s.k = t.id)""".stripMargin)
    // id 1: 10 >= 10 -> 11; id 2: min(25,26)*2=50, 20 >= 50 no;
    // ids 4-7: no row -> NULL -> untouched
    assert(sql("SELECT id, n FROM graft_dml.g_wsc ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 11L), (2L, 20L), (4L, 40L), (5L, 50L), (6L, 60L),
        (7L, 70L)))
    // a key with TWO DISTINCT scalar values raises BEFORE the merge —
    // a value-dependent condition must never silently pick one
    val multi = intercept[Exception] {
      sql("""DELETE FROM graft_dml.g_wsc t
            |WHERE n < (SELECT thr FROM g_wsc_src s WHERE s.k = t.id)""".stripMargin)
    }
    assert(msgs(multi).exists(_.contains("more than one row")),
      msgs(multi).mkString(" | "))
    // OR around the slot would resurrect no-match rows: loud
    val or = intercept[Exception] {
      sql("""DELETE FROM graft_dml.g_wsc t
            |WHERE n < (SELECT min(thr) FROM g_wsc_src s WHERE s.k = t.id)
            |   OR id = 6""".stripMargin)
    }
    assert(msgs(or).exists(_.contains("null-propagating")),
      msgs(or).mkString(" | "))
  }

  test("correlated and multi-column NOT IN lower under the static no-NULL proof") {
    fsDel(s"$wh/g_nin")
    sql("CREATE TABLE graft_dml.g_nin " +
      "(id BIGINT NOT NULL, grp BIGINT NOT NULL, n BIGINT)")
    sql("INSERT INTO graft_dml.g_nin SELECT id, id % 2, id FROM range(10)")
    // the CASE makes k NULLABLE (range ids are not) — the proof must
    // come from the predicate's own IS NOT NULL pin
    spark.range(6).selectExpr("CASE WHEN id >= 0 THEN id END AS k",
        "id % 2 AS j")
      .createOrReplaceTempView("g_nin_src")
    // target id NOT NULL (declared), inner filtered IS NOT NULL: the
    // proof holds, the anti-join fires — per group, keep only ids the
    // subquery names (rows with NO matching group delete too: NOT IN
    // over the empty set is TRUE). S_grp0 = {0,2}, S_grp1 = {1,3}.
    sql("""DELETE FROM graft_dml.g_nin t WHERE id NOT IN
          |  (SELECT k FROM g_nin_src s
          |   WHERE s.k IS NOT NULL AND s.j = t.grp AND s.k < 4)""".stripMargin)
    assert(sql("SELECT id FROM graft_dml.g_nin ORDER BY id")
      .as[Long].collect().toSeq === (0L until 4L).toSeq,
      "correlated NOT IN must keep exactly the per-group named ids")
    assert(ManifestTable.snapshot(spark, s"$wh/g_nin").op === "merge",
      "NOT IN lowers through the NMBS merge path")
    // nullable inner key without the IS NOT NULL pin: loud
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      sql("""DELETE FROM graft_dml.g_nin t WHERE id NOT IN
            |  (SELECT k FROM g_nin_src s WHERE s.j = t.grp)""".stripMargin)
    }
    assert(msgs(e).exists(_.contains("may be NULL")), msgs(e).mkString(" | "))
  }

  test("NOT IN proof ignores IS NOT NULL pins below an outer join (ADVICE r20)") {
    fsDel(s"$wh/g_pin")
    sql("CREATE TABLE graft_dml.g_pin (id BIGINT NOT NULL, grp BIGINT NOT NULL)")
    sql("INSERT INTO graft_dml.g_pin SELECT id, id % 2 FROM range(10)")
    // pin_b carries an IS NOT NULL filter on x, but x then crosses the
    // null-producing side of a LEFT JOIN: a no-match a-row pads x with
    // NULL, so the subquery output CAN be NULL and one NULL key vetoes
    // every row — the unsound-pin shape must stay a loud rejection
    spark.range(5).selectExpr("id AS k", "id % 2 AS j")
      .createOrReplaceTempView("g_pin_a")
    spark.range(3).selectExpr("id * 2 AS x")
      .createOrReplaceTempView("g_pin_b")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      sql("""DELETE FROM graft_dml.g_pin t WHERE id NOT IN
            |  (SELECT b.x FROM g_pin_a a LEFT JOIN
            |     (SELECT x FROM g_pin_b WHERE x IS NOT NULL) b
            |     ON a.k = b.x
            |   WHERE a.j = t.grp)""".stripMargin)
    }
    assert(msgs(e).exists(_.contains("may be NULL")),
      s"a pin below an outer join must not prove the output: " +
        msgs(e).mkString(" | "))
    // nothing was deleted by the rejected statement
    assert(sql("SELECT count(*) FROM graft_dml.g_pin")
      .as[Long].head() === 10L)
  }

  test("<=> against a correlated scalar subquery stays a loud rejection (ADVICE r20)") {
    fsDel(s"$wh/g_nsafe")
    sql("CREATE TABLE graft_dml.g_nsafe (id BIGINT, n BIGINT)")
    sql("INSERT INTO graft_dml.g_nsafe SELECT id, " +
      "CASE WHEN id = 3 THEN NULL ELSE id END FROM range(6)")
    spark.range(6).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("g_nsafe_src")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // NULL <=> NULL is TRUE: a no-match row with n NULL must be deleted
    // by SQL, but the never-matched lowering would silently keep it —
    // the non-null-propagating comparison must reject, not approximate
    val e = intercept[Exception] {
      sql("""DELETE FROM graft_dml.g_nsafe t
            |WHERE n <=> (SELECT v FROM g_nsafe_src s
            |             WHERE s.k = t.id AND s.k < 3)""".stripMargin)
    }
    assert(msgs(e).exists(_.toLowerCase.contains("null-propagating")),
      msgs(e).mkString(" | "))
    assert(sql("SELECT count(*) FROM graft_dml.g_nsafe")
      .as[Long].head() === 6L)
  }

  test("BETWEEN in DELETE, UPDATE and MERGE conditions matches the range form row for row") {
    spark.range(6).selectExpr("id AS id").createOrReplaceTempView("bt_src")
    def fresh(t: String): Unit = {
      fsDel(s"$wh/$t")
      sql(s"CREATE TABLE graft_dml.$t (id BIGINT, v STRING)")
      sql(s"INSERT INTO graft_dml.$t SELECT id, 'a' FROM range(6)")
    }
    def rows(t: String) = sql(s"SELECT id, v FROM graft_dml.$t ORDER BY id")
      .as[(Long, String)].collect().toSeq
    val untouched = (0L until 6L).map(_ -> "a")
    // %s is the table; each BETWEEN form runs beside its range spelling
    Seq(
      "DELETE FROM graft_dml.%s WHERE id BETWEEN 2 AND 3" ->
        "DELETE FROM graft_dml.%s WHERE id >= 2 AND id <= 3",
      "UPDATE graft_dml.%s SET v = 'z' WHERE id BETWEEN 2 AND 3" ->
        "UPDATE graft_dml.%s SET v = 'z' WHERE id >= 2 AND id <= 3",
      "UPDATE graft_dml.%s SET v = 'z' WHERE NOT (id BETWEEN 2 AND 3)" ->
        "UPDATE graft_dml.%s SET v = 'z' WHERE NOT (id >= 2 AND id <= 3)",
      """MERGE INTO graft_dml.%s t USING bt_src s ON t.id = s.id
        |WHEN MATCHED AND t.id BETWEEN 2 AND 3 THEN UPDATE SET v = 'z'
        |WHEN MATCHED THEN UPDATE SET v = 'y'""".stripMargin ->
      """MERGE INTO graft_dml.%s t USING bt_src s ON t.id = s.id
        |WHEN MATCHED AND t.id >= 2 AND t.id <= 3 THEN UPDATE SET v = 'z'
        |WHEN MATCHED THEN UPDATE SET v = 'y'""".stripMargin,
      // uncorrelated subqueries ride as held conditions, printed at run
      // time: max(id) - 2 = 3
      ("DELETE FROM graft_dml.%s WHERE id BETWEEN 2 AND " +
        "(SELECT max(id) FROM bt_src) - 2") ->
        ("DELETE FROM graft_dml.%s WHERE id >= 2 AND " +
        "id <= (SELECT max(id) FROM bt_src) - 2"),
      """MERGE INTO graft_dml.%s t USING bt_src s ON t.id = s.id
        |WHEN MATCHED AND t.id BETWEEN 2 AND (SELECT max(id) FROM bt_src) - 2
        |  THEN UPDATE SET v = 'z'""".stripMargin ->
      """MERGE INTO graft_dml.%s t USING bt_src s ON t.id = s.id
        |WHEN MATCHED AND t.id >= 2 AND t.id <= (SELECT max(id) FROM bt_src) - 2
        |  THEN UPDATE SET v = 'z'""".stripMargin
    ).foreach { case (between, range) =>
      fresh("bt_between"); fresh("bt_range")
      sql(between.format("bt_between"))
      sql(range.format("bt_range"))
      assert(rows("bt_range") !== untouched, range)
      assert(rows("bt_between") === rows("bt_range"), between)
    }
  }
}
