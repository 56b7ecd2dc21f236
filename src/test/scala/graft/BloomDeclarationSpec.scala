package graft

import org.apache.spark.sql.DataFrame
import graft.ext.ManifestTable

/** Bloom columns are a TABLE DECLARATION, like NDV columns and the
  * partition layout: the first write naming them records them in the
  * manifest, and every later write — appends, the SQL and Scala row
  * ops, merges, compactions, the DV purge, the streaming sink's
  * maintenance tick — lands its files with their per-file blooms, so
  * [[ManifestTable.keyGate]] and bloom pruning survive every rewrite.
  */
class BloomDeclarationSpec extends SparkSpec {
  import spark.implicits._

  private val wh = "/tmp/graft_test/bloomdecl_wh"

  override def withFixture(test: NoArgTest) = {
    spark.conf.set("spark.sql.catalog.graft_bd", "graft.ext.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bd.warehouse", wh)
    super.withFixture(test)
  }

  private def fresh(name: String): String = {
    val dir = s"$wh/$name"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
        spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    dir
  }

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(x => (x, s"doc $x")).toDF("id", "text").coalesce(1)

  /** Four files of interleaved ids: every file's [min, max] spans the
    * key space, so only a bloom can prune a point lookup. Only the
    * first append names the bloom column; the other three inherit it.
    */
  private def seeded(name: String): String = {
    val dir = fresh(name)
    (0 until 4).foreach { i =>
      ManifestTable.append(docs((0L until 400L).filter(_ % 4 == i)), dir,
        s"b$i", bloomCols = if (i == 0) Seq("id") else Nil)
    }
    dir
  }

  private def bloomed(dir: String, file: String, col: String): Boolean =
    ParquetBlooms.has(spark, dir, file, col)

  /** Every live file carries its `id` bloom, the key gate is on, and a
    * point lookup on a key no rewrite touched prunes below the file
    * count and still finds its row.
    */
  private def assertBloomsLive(path: String, dir: String): Unit = {
    val s = ManifestTable.snapshot(spark, dir)
    val missing = s.files.filterNot(bloomed(dir, _, "id"))
    assert(missing.isEmpty,
      s"$path: ${missing.size} of ${s.files.size} live files lack their id bloom")
    assert(ManifestTable.keyGate(spark, dir, s, "id").isDefined,
      s"$path: the key gate turned off")
    val (kept, total) = ManifestTable.pruneInfo(spark, dir, "id = 217")
    assert(total >= 2 && kept < total,
      s"$path: the point lookup kept $kept of $total files")
    assert(ManifestTable.readWhere(spark, dir, "id = 217")
      .select("text").as[String].collect().toSeq === Seq("doc 217"), path)
  }

  private def streamedThroughMaintenance(name: String): String = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = fresh(name)
    val ckpt = fresh(s"${name}_ckpt")
    val source = MemoryStream[(Long, String)]
    val q = source.toDF().toDF("id", "text")
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", ckpt)
      .option("bloomCols", "id")
      .option("packSmallBytes", (1024L * 1024).toString)
      .option("maintainEvery", "2")
      .outputMode("append").start(dir)
    try {
      // batches 0-2 land ids = 0, 1, 2 (mod 4); the tick after batch 2
      // packs their three files into one, and batch 3 (ids = 3 mod 4)
      // lands beside it
      (0 until 4).foreach { k =>
        source.addData((0L until 400L).filter(_ % 4 == k)
          .map(x => (x, s"doc $x")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(ManifestTable.snapshot(spark, dir).files.size === 2,
      "the maintenance tick never packed the streamed files")
    dir
  }

  private val rewritePaths: Seq[(String, String => Unit)] = Seq(
    "inheriting append" -> { dir =>
      ManifestTable.append(docs(400L until 800L by 2), dir, "b4") },
    "deleteWhere" -> { dir =>
      assert(ManifestTable.deleteWhere(spark, dir, "id = 5", "d0")) },
    "SQL DELETE" -> { _ =>
      spark.sql("DELETE FROM graft_bd.p_sql_delete WHERE id = 5") },
    "updateWhere" -> { dir =>
      assert(ManifestTable.updateWhere(spark, dir, "id = 6",
        Map("text" -> "'six'"), "u0")) },
    "SQL UPDATE" -> { _ =>
      spark.sql("UPDATE graft_bd.p_sql_update SET text = 'six' WHERE id = 6") },
    "SQL MERGE" -> { _ =>
      Seq((7L, "seven"), (1000L, "doc 1000")).toDF("id", "text")
        .createOrReplaceTempView("bd_merge_src")
      spark.sql("""MERGE INTO graft_bd.p_sql_merge AS t USING bd_merge_src AS s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin) },
    "updateWhereDV" -> { dir =>
      assert(ManifestTable.updateWhereDV(spark, dir, "id = 6",
        Map("text" -> "'six'"), "udv0")) },
    "overwriteWhere" -> { dir =>
      assert(ManifestTable.overwriteWhere(Seq((9L, "nine")).toDF("id", "text"),
        dir, "id = 9", "ow0")) },
    "compact" -> { dir =>
      val (in, out) = ManifestTable.compact(spark, dir, targetFileBytes = 2048L)
      assert(in === 4 && out >= 2) },
    "CALL compact" -> { _ =>
      spark.sql("CALL graft_bd.system.compact(table => 'p_call_compact', " +
        "target_file_bytes => 2048)").collect() },
    "compactSmall" -> { dir =>
      // every file is a candidate, and they pack into at least two
      val target = ManifestTable.snapshot(spark, dir).sizes.values.max + 1
      val (in, out) = ManifestTable.compactSmall(spark, dir,
        targetFileBytes = target, minFileBytes = target)
      assert(in === 4 && out >= 2) },
    "purgeDeletes" -> { dir =>
      assert(ManifestTable.deleteWhereDV(spark, dir,
        "id < 200 AND id % 4 = 1", "dv0"))
      assert(ManifestTable.purgeDeletes(spark, dir) === ((1, 1))) })

  test("every rewrite path lands its files with the declared blooms: key gate on, point lookups prune") {
    rewritePaths.foreach { case (path, act) =>
      val dir = seeded("p_" + path.toLowerCase.replace(' ', '_'))
      assertBloomsLive(s"$path (before)", dir)
      act(dir)
      assertBloomsLive(path, dir)
    }
    assertBloomsLive("ManifestSink maintenance tick",
      streamedThroughMaintenance("p_sink"))
  }

  test("rename keeps the declaration, DROP COLUMN removes its column") {
    val dir = fresh("rename_drop")
    ManifestTable.append(docs(0L until 100L), dir, "b0",
      bloomCols = Seq("id", "TEXT"))
    assert(ManifestTable.snapshot(spark, dir).bloomCols === Seq("id", "text"))
    ManifestTable.renameColumn(spark, dir, "id", "key")
    ManifestTable.append(Seq((500L, "doc 500")).toDF("key", "text"), dir, "b1")
    val s1 = ManifestTable.snapshot(spark, dir)
    // physical names: the rename costs the declaration nothing
    assert(s1.bloomCols === Seq("id", "text"))
    assert(s1.files.forall(f => bloomed(dir, f, "id") && bloomed(dir, f, "text")))
    assert(ManifestTable.keyGate(spark, dir, s1, "key").isDefined)
    ManifestTable.dropColumn(spark, dir, "text")
    assert(ManifestTable.snapshot(spark, dir).bloomCols === Seq("id"))
    ManifestTable.append(Seq(600L).toDF("key"), dir, "b2")
    val last = ManifestTable.snapshot(spark, dir).files.last
    assert(bloomed(dir, last, "id") && !bloomed(dir, last, "text"))
    // a later write may repeat the declaration under the current name
    assert(ManifestTable.append(Seq(700L).toDF("key"), dir, "b3",
      bloomCols = Seq("key")))
  }

  test("shallowClone carries the declaration; the clone's own writes land blooms") {
    val src = seeded("clone_src")
    val dst = fresh("clone_dst")
    ManifestTable.shallowClone(spark, src, dst)
    assert(ManifestTable.snapshot(spark, dst).bloomCols === Seq("id"))
    // every clone entry is an absolute path into the source's data files,
    // whose blooms travel with them: the gate is on from the first commit
    assert(ManifestTable.snapshot(spark, dst).files.forall(f =>
      f.startsWith("/") || f.contains("://")))
    assertBloomsLive("shallow clone", dst)
    ManifestTable.append(docs(1000L until 1010L), dst, "c0")
    assert(bloomed(dst, ManifestTable.snapshot(spark, dst).files.last, "id"))
    ManifestTable.compact(spark, dst, targetFileBytes = 2048L)
    assertBloomsLive("compacted clone", dst)
  }

  /** One table, one bloom column per key kind the probes hash: a string,
    * a long, an int and a short. Four interleaved files of 50 rows, so
    * min/max prunes nothing and only a bloom can.
    */
  test("every declared key kind hashes as its file stores it: the gate passes and lookups find every present key") {
    import org.apache.spark.sql.functions.{col, not}
    val dir = fresh("hash_contract")
    def rows(ks: Seq[Int]) = ks.map(k => (f"k$k%04d", k.toLong * 7919L,
      k * 31, k.toShort)).toDF("s", "l", "i", "h").coalesce(1)
    (0 until 4).foreach { j =>
      ManifestTable.append(rows((0 until 200).filter(_ % 4 == j)), dir, s"b$j",
        bloomCols = if (j == 0) Seq("s", "l", "i", "h") else Nil)
    }
    val s = ManifestTable.snapshot(spark, dir)
    val table = ManifestTable.read(spark, dir)
    val absent = rows(1000 until 1200)
    def lit(c: String, k: Int): String = c match {
      case "s" => f"'k$k%04d'"
      case "l" => s"${k.toLong * 7919L}"
      case "i" => s"${k * 31}"
      case "h" => s"$k"
    }
    Seq("s", "l", "i", "h").foreach { c =>
      assert(s.files.forall(bloomed(dir, _, c)), s"$c: a file lacks its bloom")
      val gate = ManifestTable.keyGate(spark, dir, s, c)
      assert(gate.isDefined, s"$c: the key gate is off")
      assert(table.where(not(gate.get)).count() === 0L,
        s"$c: the gate rejects keys the table holds")
      assert(absent.where(gate.get).count() <= 20L,
        s"$c: the gate passes most absent keys")
      // every point lookup prunes below the file count, and together
      // they find every row
      (0 until 200).foreach { k =>
        val (kept, total) = ManifestTable.pruneInfo(spark, dir, s"$c = ${lit(c, k)}")
        assert(total === 4 && kept >= 1 && kept < 4, s"$c = ${lit(c, k)}: kept $kept")
      }
      val found = (0 until 200).map(k =>
        ManifestTable.readWhere(spark, dir, s"$c = ${lit(c, k)}").select("s"))
        .reduce(_ union _).as[String].collect().sorted.toSeq
      assert(found === (0 until 200).map(k => f"k$k%04d"), c)
    }
  }

  test("REPLACE resets the declaration") {
    val dir = seeded("replace")
    val schema = docs(Nil).schema
    assert(ManifestTable.replaceTable(spark, dir, Some(docs(0L until 10L)),
      schema, Nil, Map.empty, "r0"))
    val s = ManifestTable.snapshot(spark, dir)
    assert(s.bloomCols.isEmpty && s.files.forall(!bloomed(dir, _, "id")))
    // the replaced table takes a fresh declaration
    ManifestTable.append(docs(10L until 20L), dir, "b4", bloomCols = Seq("text"))
    val last = ManifestTable.snapshot(spark, dir).files.last
    assert(bloomed(dir, last, "text") && !bloomed(dir, last, "id"))
  }

  test("a conflicting re-declaration fails loudly, before or at the commit") {
    val dir = seeded("conflict")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(docs(Seq(1000L)), dir, "b4", bloomCols = Seq("text"))
    }
    assert(e.getMessage.contains("already declares bloom columns (id)"))
    assert(!ManifestTable.snapshot(spark, dir).batchIds.contains("b4"))
    // the same columns in another case are the same declaration
    assert(ManifestTable.append(docs(Seq(1001L)), dir, "b5", bloomCols = Seq("ID")))
    // two first appends racing to declare different columns: the loser
    // raises at its commit instead of landing files without its blooms
    val race = fresh("race")
    intercept[IllegalArgumentException] {
      ManifestTable.append(docs(Seq(1L)), race, "a", bloomCols = Seq("id"),
        beforeCommit = () => ManifestTable.append(docs(Seq(2L)), race, "b",
          bloomCols = Seq("text")))
    }
    val s = ManifestTable.snapshot(spark, race)
    assert(s.bloomCols === Seq("text") && s.batchIds === Set("b"))
  }

  test("an append to a table declaring bloom and NDV columns runs one sketch job") {
    def appendJobs(name: String, bloomCols: Seq[String],
                   ndvCols: Seq[String]): JobCount.Jobs = {
      val dir = fresh(name)
      ManifestTable.append(docs(0L until 100L), dir, "b0",
        bloomCols = bloomCols, ndvCols = ndvCols)
      val batch = docs(100L until 200L).persist()
      batch.count()
      // repeating the bloom declaration (the NDV one is inherited)
      try JobCount.during(ManifestTable.append(batch, dir, "b1",
        bloomCols = bloomCols))._2
      finally batch.unpersist()
    }
    val plain = appendJobs("jobs_plain", Nil, Nil)
    // blooms are written by the stage itself: declaring them costs no job
    val bloomOnly = appendJobs("jobs_bloom_only", Seq("id", "text"), Nil)
    assert(bloomOnly.count === plain.count,
      s"bloom-declared append ran $bloomOnly\nundeclared $plain")
    val bd = s"$wh/jobs_bloom_only"
    assert(ManifestTable.snapshot(spark, bd).files.forall(f =>
      bloomed(bd, f, "id") && bloomed(bd, f, "text")))
    val sketched = appendJobs("jobs_sketched", Seq("id"), Seq("id", "text"))
    assert(sketched.count - plain.count === 1,
      s"declared append ran $sketched\nundeclared $plain")
    val dir = s"$wh/jobs_sketched"
    val s = ManifestTable.snapshot(spark, dir)
    assert(s.files.forall(f => bloomed(dir, f, "id") &&
      s.ndv.get(f).exists(_.keySet == Set("id", "text"))))
    val nd = ManifestTable.metaNdv(spark, dir)
    assert(math.abs(nd("id") - 200L) <= 20L && math.abs(nd("text") - 200L) <= 20L)
  }
}
