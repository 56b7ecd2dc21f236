package graft.ext

import graft.ext.ManifestTable.{ColStats, DvRef, FileStats, PartValue, Snapshot}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The log format's round trip: for a commit taking snapshot `a` to
  * `b`, the delta lines written, read back as a log file and replayed
  * onto `a` give `b` exactly — and so do the checkpoint lines (the delta
  * from the empty table) replayed onto the empty table. Pairs are
  * generated under the commit invariants the log relies on: a surviving
  * file keeps its stats, size, partition values and sketches; batch ids
  * only grow; schema, column mapping and retired names never go back to
  * empty. Fixed seeds, so a failure reproduces.
  */
class ManifestLogRoundTripSpec extends AnyFunSuite {

  private def few[T](g: Gen[T], max: Int = 4): Gen[List[T]] =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, g))

  private def each[T](gs: Seq[Gen[T]]): Gen[List[T]] =
    gs.foldRight(Gen.const(List.empty[T])) { (g, acc) =>
      for { x <- g; xs <- acc } yield x :: xs }

  // values that stress a tab-separated, line-oriented format
  private val text: Gen[String] = Gen.frequency(
    3 -> Gen.alphaNumStr.map(_.take(8)),
    2 -> Gen.oneOf("", "a\tb", "two\nlines", "cr\rlf\r\n", "100% + 1",
      "ünï €", " lead", "key:value", "\t"))
  private val name: Gen[String] =
    Gen.frequency(3 -> Gen.identifier.map(_.take(10)), 1 -> text.map("c" + _))
  private val uuid = Gen.uuid.map(_.toString)
  // data-file entries: plain names and a shallow clone's absolute paths
  private val fileName: Gen[String] = Gen.oneOf(
    uuid.map(u => s"part-$u.parquet"),
    uuid.map(u => s"/warehouse/src/data/$u"),
    uuid.map(u => s"hdfs://nn:8020/src/data/$u"))
  private val batchId: Gen[String] = Gen.oneOf(uuid, Gen.identifier.map(_.take(12)))
  private val b64: Gen[String] = Gen.listOfN(16, Gen.oneOf(
    ('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('+', '/', '='))).map(_.mkString)

  private val colStats: Gen[ColStats] = for {
    typ <- Gen.oneOf("long", "double", "string", "bool")
    nulls <- Gen.choose(0L, 100L)
    bounds <- Gen.option(Gen.zip(text, text)) // None: an all-null column
  } yield ColStats(typ, bounds.map(_._1), bounds.map(_._2), nulls)

  /** One added file's per-file entries: stats, size, partition values,
    * NDV sketches — each possibly absent.
    */
  private final case class Detail(stats: Option[FileStats], size: Option[Long],
                                  pv: Map[String, PartValue],
                                  ndv: Map[String, String])

  private val detail: Gen[Detail] = for {
    rows <- Gen.choose(0L, 1000L)
    cols <- few(Gen.zip(name, colStats))
    stats <- Gen.option(Gen.const(FileStats(rows, cols.toMap)))
    size <- Gen.option(Gen.choose(0L, 1L << 40))
    pv <- few(Gen.zip(name, Gen.zip(Gen.oneOf("long", "string", "bool"),
      Gen.option(text))), 2)
    ndv <- few(Gen.zip(name, b64), 2)
  } yield Detail(stats, size,
    pv.map { case (c, (fam, v)) => c -> PartValue(fam, v) }.toMap, ndv.toMap)

  private val dvRef: Gen[DvRef] =
    Gen.zip(uuid, Gen.choose(1L, 50L)).map { case (n, r) => DvRef(n, r) }
  private val refs: Gen[List[DvRef]] = Gen.choose(1, 3).flatMap(Gen.listOfN(_, dvRef))

  /** A surviving file's refs after a commit: kept, grown (a new vector
    * stacked), shrunk or cleared (the restore shape), or rewritten.
    */
  private def dvStep(old: Seq[DvRef]): Gen[Seq[DvRef]] = Gen.oneOf(
    Gen.const(old), refs.map(old ++ _),
    Gen.choose(0, old.size).map(old.take), few(dvRef, 2))

  private val cols: Gen[List[String]] = few(name, 3).map(_.distinct)
  private val colMap: Gen[List[(String, String)]] =
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.zip(name, name)))
  private val retired: Gen[List[String]] = Gen.choose(1, 3).flatMap(Gen.listOfN(_, name))

  /** Constraints / properties after a commit: some keys unset, some
    * values changed, some keys added.
    */
  private def mapStep(m: Map[String, String]): Gen[Map[String, String]] = for {
    kept <- Gen.someOf(m.keys.toSeq)
    upd <- Gen.listOfN(kept.size, Gen.option(text))
    added <- few(Gen.zip(text, text))
  } yield kept.zip(upd).map { case (k, u) => k -> u.getOrElse(m(k)) }.toMap ++ added

  /** `old` plus a commit: a random subset of files survives unchanged,
    * new files land with their own detail, and every other field moves
    * within the commit invariants.
    */
  private def step(old: Snapshot): Gen[Snapshot] = for {
    kept <- Gen.someOf(old.files).map(_.toSet)
    added <- few(fileName).map(_.distinct)
    details <- Gen.listOfN(added.size, detail)
    survivors = old.files.filter(kept)
    survDvs <- each(survivors.map(f => dvStep(old.dvs.getOrElse(f, Nil)).map(f -> _)))
    addDvs <- each(added.map(f => Gen.option(refs).map(f -> _.getOrElse(Nil))))
    batches <- few(batchId)
    op <- Gen.oneOf("", "append", "compact", "delete", "restore")
    schema <- old.schemaJson.fold(Gen.option(text))(s =>
      Gen.oneOf(Gen.const(Some(s)), text.map(Some(_))))
    cdc <- Gen.option(uuid)
    constraints <- mapStep(old.constraints)
    properties <- mapStep(old.properties)
    partCols <- Gen.oneOf(Gen.const(old.partitionCols), cols)
    ndvCols <- Gen.oneOf(Gen.const(old.ndvCols), cols)
    bloomCols <- Gen.oneOf(Gen.const(old.bloomCols), cols)
    mapping <- if (old.colMap.isEmpty) Gen.oneOf(Gen.const(Nil), colMap)
               else Gen.oneOf(Gen.const(old.colMap), colMap)
    retiredCols <- if (old.retiredCols.isEmpty) Gen.oneOf(Gen.const(Nil), retired)
                   else Gen.oneOf(Gen.const(old.retiredCols), retired)
  } yield {
    val gone = old.files.filterNot(kept).toSet
    val ds = added.zip(details)
    Snapshot(old.version + 1, survivors ++ added, old.batchIds ++ batches,
      stats = old.stats -- gone ++ ds.flatMap { case (f, d) => d.stats.map(f -> _) },
      op = op, schemaJson = schema, cdcPath = cdc,
      sizes = old.sizes -- gone ++ ds.flatMap { case (f, d) => d.size.map(f -> _) },
      dvs = (survDvs ++ addDvs).filter(_._2.nonEmpty).toMap,
      constraints = constraints, partitionCols = partCols,
      pvals = old.pvals -- gone ++ ds.collect { case (f, d) if d.pv.nonEmpty => f -> d.pv },
      ndvCols = ndvCols,
      ndv = old.ndv -- gone ++ ds.collect { case (f, d) if d.ndv.nonEmpty => f -> d.ndv },
      properties = properties, colMap = mapping, retiredCols = retiredCols,
      bloomCols = bloomCols)
  }

  /** (a, b): `a` built by one to three commits from the empty table,
    * then one more commit.
    */
  private val pairs: Gen[(Snapshot, Snapshot)] = for {
    n <- Gen.choose(1, 3)
    a <- (1 to n).foldLeft(Gen.const(Snapshot.empty))((g, _) => g.flatMap(step))
    b <- step(a)
  } yield (a, b)

  /** `next`'s lines from `base`, published and read back as a log file,
    * replayed onto `base`.
    */
  private def replay(base: Snapshot, next: Snapshot): Snapshot = {
    val file = ManifestTable.deltaLines(base, next).mkString("\n")
    val lines = scala.io.Source.fromString(file).getLines().toList
    ManifestTable.applyDelta(base, ManifestTable.parseLog(lines), next.version)
  }

  test("a delta replayed onto its base, and a checkpoint onto the empty table, give the target snapshot") {
    val prop = Prop.forAllNoShrink(pairs) { case (a, b) =>
      Prop(replay(a, b) == b).label("delta from a") &&
        Prop(replay(Snapshot.empty, b) == b).label("checkpoint")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(400)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("a raw field holding a line break is refused, not written as two lines") {
    val one = Snapshot.empty.copy(version = 1L, files = Seq("f"))
    for (bad <- Seq[Snapshot](one.copy(batchIds = Set("b\n1")),
        one.copy(files = Seq("f\r")), one.copy(op = "app\nend"),
        one.copy(cdcPath = Some("c\n")),
        one.copy(dvs = Map("f" -> Seq(DvRef("d\r\n", 1L))))))
      intercept[IllegalArgumentException](ManifestTable.deltaLines(Snapshot.empty, bad))
    assert(ManifestTable.deltaLines(Snapshot.empty, one) === Seq("add:f"))
  }

  test("the generated pairs exercise every line kind and every awkward value") {
    val lines = Iterator.iterate(Seed(7L))(_.next).take(300)
      .map(pairs.pureApply(Gen.Parameters.default, _))
      .flatMap { case (a, b) => ManifestTable.deltaLines(a, b) }.toList
    val kinds = Seq("add:", "remove:", "batch:", "op:", "schema:", "cdc:",
      "rows:", "col:", "size:", "dv:", "cleardv:", "constraint:",
      "dropconstraint:", "partcols:", "pv:", "ndvcols:", "bloomcols:", "ndv:",
      "property:", "dropproperty:", "colmap:", "retired:")
    kinds.foreach(k => assert(lines.exists(_.startsWith(k)), s"no $k line"))
    // empty declarations, all-null columns, empty and tab/newline bounds
    Seq("partcols:", "ndvcols:", "bloomcols:").foreach(k =>
      assert(lines.contains(k), s"no empty $k declaration"))
    val colLines = lines.filter(_.startsWith("col:")).map(_.split("\t", -1))
    assert(colLines.exists(_(4) == "0"), "no all-null column")
    assert(colLines.exists(a => a(4) == "1" && (a(5).isEmpty || a(6).isEmpty)),
      "no empty min/max")
    assert(colLines.exists(a => a.drop(5).exists(v => v.contains("%09") ||
      v.contains("%0A"))), "no tab or newline in min/max")
  }
}
