package graft

import org.apache.spark.sql.functions._
import graft.ext.{MinHashLSH, Multimodal, Sampling, Similarity, TextAnalysis}

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    // realistic document lengths (~30 words): a one-word suffix mutation
    // keeps word-trigram jaccard ~0.9, squarely in the LSH S-curve's
    // high-recall region
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today " +
        "while the morning sun rises slowly above the quiet green valley floor below"),
      (1L, "completely different sentence about spark catalyst optimizer internals " +
        "covering predicate pushdown column pruning join reordering and whole stage " +
        "code generation across physical plan boundaries"),
      (2L, "a third document mentioning shuffle partitions and broadcast joins " +
        "together with adaptive query execution skew handling dynamic coalescing " +
        "and the exchange reuse machinery inside the engine"),
      (3L, "yet another unrelated line of text with its own vocabulary entirely " +
        "speaking of gardens rivers mountains forests meadows and long winding " +
        "roads that cross the countryside at dawn"))
    // planted near-dups: same text with a small suffix change
    val dups = base.map { case (id, t) => (id + 100, t.dropRight(5) + " end") }
    (base ++ dups).toDF("id", "text")
  }

  test("minhash LSH finds every planted near-dup pair and nothing else") {
    // word-trigram shingles: a ~1-word suffix mutation on a 10-13 word
    // doc keeps jaccard well above 0.4 while unrelated docs sit at ~0
    val pairs = MinHashLSH.nearDupPairs(corpus, "id", "text", threshold = 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 100L), (1L, 101L), (2L, 102L), (3L, 103L)))
  }

  test("jaccard of identical text is 1.0, of disjoint text is low") {
    val j = corpus.filter($"id" === 0)
      .select(
        MinHashLSH.jaccard(MinHashLSH.shingles($"text"), MinHashLSH.shingles($"text"))
          .as("same"),
        MinHashLSH.jaccard(MinHashLSH.shingles($"text"),
          MinHashLSH.shingles(lit("zzzz qqqq wwww xxxx vvvv"))).as("diff"))
      .as[(Double, Double)].collect()(0)
    assert(j._1 === 1.0)
    assert(j._2 < 0.2)
  }

  test("signature is stable and 8 wide") {
    val sigs = corpus.select(
      MinHashLSH.signature(MinHashLSH.shingles($"text")).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs.forall(_.length === 8))
    // deterministic: recompute equals
    val again = corpus.select(
      MinHashLSH.signature(MinHashLSH.shingles($"text")).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs.toSeq === again.toSeq)
  }

  test("simhash of near-identical text is hamming-close, unrelated text far") {
    val sims = corpus
      .withColumn("sh", TextAnalysis.simhash32($"text"))
      .select("id", "sh").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(0L), sims(100L)) <= 6)
    assert(ham(sims(1L), sims(101L)) <= 6)
    assert(ham(sims(0L), sims(1L)) > 6)
  }

  test("langId picks the language with the most function-word hits") {
    val rows = Seq(
      ("the cat is in the house and it is warm", "en"),
      ("der hund ist nicht das problem und die katze", "de"),
      ("le chat est dans la maison pour les enfants", "fr"),
      ("el perro es una mascota que vive con los gatos", "es"),
      ("zzz qqq www", "unknown")).toDF("text", "expected")
    val got = rows.select(TextAnalysis.langId($"text").as("p"), $"expected")
      .as[(String, String)].collect()
    got.foreach { case (p, e) => assert(p === e) }
  }

  test("rolling hash is deterministic and order-sensitive") {
    val h = Seq(("abc def"), ("def abc")).toDF("text")
      .select(TextAnalysis.rollingHash($"text")).as[Long].collect()
    assert(h(0) !== h(1))
    assert(h(0) > 0)
  }

  test("bucketed ANN search returns a subset of brute force, query bucket only") {
    val emb = (0L until 40L).map { i =>
      // deterministic synthetic vectors: two obvious clusters
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i, Array.tabulate(64)(j => base * (1.0f + 0.01f * ((i + j) % 7))))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.cosineToQuery(emb, 0L)
      .select("vec_id", "cos").as[(Long, Double)].collect().toMap
    val bucketed = Similarity.bucketedSearch(emb, 0L)
      .select("vec_id", "cos").as[(Long, Double)].collect().toMap
    assert(bucketed.keySet.subsetOf(brute.keySet))
    bucketed.foreach { case (k, v) => assert(math.abs(v - brute(k)) < 1e-12) }
    // same-cluster vectors (even ids, cosine ~1) must share the bucket
    assert(bucketed.keySet.contains(2L))
    // cross-cluster vectors (cosine ~-1) must not
    assert(!bucketed.keySet.contains(1L))
  }

  test("topK returns k best by cosine desc") {
    val emb = (0L until 20L).map { i =>
      (i, Array.tabulate(64)(j => (1.0f + i * 0.05f * (j % 3))))
    }.toDF("vec_id", "embedding")
    val top = Similarity.topK(emb, 0L, 5).select("vec_id").as[Long].collect()
    assert(top.length === 5)
    val all = Similarity.cosineToQuery(emb, 0L)
      .select("vec_id", "cos").as[(Long, Double)].collect()
      .sortBy { case (id, c) => (-c, id) }.map(_._1).take(5)
    assert(top.toSeq === all.toSeq)
  }

  test("IVF assignment picks the true nearest centroid; search stays in-cell") {
    val raw = (0L until 30L).map { i =>
      (i, Array.tabulate(64)(j => ((i * 7 + j * 3) % 13).toFloat / 13f))
    }
    val emb = raw.toDF("vec_id", "embedding")
    val assign = Similarity.ivfAssign(emb, k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.size === 30)
    // brute-force nearest centroid (tiebreak: lowest centroid id)
    val centroids = raw.take(4)
    raw.foreach { case (id, v) =>
      val best = centroids.map { case (cid, c) =>
        val d = v.zip(c).map { case (x, y) =>
          (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
        (d, cid)
      }.min._2
      assert(assign(id) === best, s"vec $id assigned ${assign(id)}, nearest is $best")
    }
    // search returns only vectors sharing the query's cell
    val inCell = Similarity.ivfSearch(emb, queryId = 5L, k = 4)
      .select("vec_id").as[Long].collect().toSet
    val qCell = assign(5L)
    assert(inCell === assign.filter { case (id, c) => c == qCell && id != 5L }.keySet)
  }

  test("salted join equals the plain join on a skewed key") {
    val big = (0L until 500L).map(i => (if (i < 450) "hot" else s"k$i", i))
      .toDF("k", "v")
    val small = Seq(("hot", "H"), ("k451", "A"), ("k499", "B"), ("absent", "Z"))
      .toDF("k", "label")
    val plain = big.join(small, Seq("k")).select("k", "v", "label")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val salted = graft.ext.Skew.saltedJoin(big, small, Seq("k"), buckets = 8)
      .select("k", "v", "label")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(salted === plain)
    assert(plain.count(_._1 == "hot") === 450)
  }

  test("multimodal meta + batched decode stub") {
    val media = Multimodal.withMeta(
      corpus.select($"id", $"text".cast("binary").as("blob")), "id", "blob")
    val metaRows = media.select("media_id", "meta.n_bytes", "meta.format")
      .as[(Long, Long, String)].collect()
    assert(metaRows.length === 8)
    assert(metaRows.forall { case (_, n, f) => n > 0 && Seq("jpeg", "png", "webp").contains(f) })
    val feats = Multimodal.decodeFeatures(media, batchSize = 3)
      .as[(Long, Seq[Float])].collect().toMap
    assert(feats.size === 8)
    assert(feats.values.forall(_.length === Multimodal.featureDim))
    // deterministic across runs
    val again = Multimodal.decodeFeatures(media, batchSize = 5)
      .as[(Long, Seq[Float])].collect().toMap
    assert(feats === again)
  }

  test("bucket cap bounds pair expansion on a degenerate all-identical corpus") {
    // adversarial shape: every document identical -> one bucket per band
    // holding the whole corpus -> quadratic pair expansion unless capped
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, "same text words repeated exactly alike every single time here"))
      .toDF("id", "text")
    val uncapped = MinHashLSH.candidatePairs(docs, "id", "text")
    assert(uncapped.count() === 40L * 39 / 2) // the quadratic blowup, distinct'd
    val capped = MinHashLSH.candidatePairs(docs, "id", "text", maxBucketSize = 10)
    assert(capped.count() === 0L) // oversized buckets dropped before expansion
    // ...and the drop is auditable, not silent
    val dropped = MinHashLSH.droppedBuckets(docs, "id", "text", maxBucketSize = 10)
      .collect()
    assert(dropped.nonEmpty)
    assert(dropped.forall(_.getAs[Long]("n_ids") === 40L))
    // a cap that fits the corpus drops nothing
    assert(MinHashLSH.candidatePairs(docs, "id", "text", maxBucketSize = 40)
      .count() === 40L * 39 / 2)
  }

  test("production near-dup paths cap hot buckets by default and report the drop") {
    // one giant duplicate cluster (60 identical docs) + one small planted
    // near-dup pair: the capped run must COMPLETE, emit the small pair,
    // skip the giant cluster's quadratic expansion, and surface the
    // dropped bucket through the audit sink
    val giant = Seq.tabulate(60)(i =>
      (i.toLong, "boilerplate template text repeated verbatim on every page " +
        "of the crawled site including header footer and navigation chrome"))
    val small = Seq(
      (1000L, "a genuinely unique document about spark shuffle internals and " +
        "the adaptive execution machinery that replans stages at runtime"),
      (1001L, "a genuinely unique document about spark shuffle internals and " +
        "the adaptive execution machinery that replans stages at runtime too"))
    val docs = (giant ++ small).toDF("id", "text")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val pairs = MinHashLSH.nearDupPairs(docs, "id", "text", threshold = 0.4,
      maxBucketSize = 10,
      droppedSink = d => seen ++= d.select("band", "n_ids")
        .as[(Long, Long)].collect())
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1000L, 1001L)))
    // all 4 bands of the 60-doc cluster reported, none silent
    assert(seen.nonEmpty && seen.forall(_._2 === 60L))
    // nearDupKeep threads the same cap AND the audit sink (VERDICT r8
    // #7): the giant cluster survives intact (its pairs were dropped,
    // auditably), the small near-dup collapses, and the sink fires
    // through the keep path — not only through nearDupPairs directly
    val keepSeen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val kept = graft.ext.Components.nearDupKeep(docs, "id", "text", 0.4,
      maxBucketSize = 10,
      droppedSink = dd => keepSeen ++= dd.select("n_ids").as[Long].collect())
      .select("id").as[Long].collect().toSet
    assert(kept === (0L until 60L).toSet + 1000L)
    assert(keepSeen.nonEmpty && keepSeen.forall(_ === 60L),
      "capped nearDupKeep must surface its dropped buckets")
    // the stock defaults (cap on, logDroppedSink) complete on a capped run
    assert(graft.ext.Components.nearDupKeep(docs, "id", "text", 0.4,
      maxBucketSize = 10).count() === 61L)
    // the default sink (no override) completes without error on a capped run
    assert(MinHashLSH.nearDupPairs(docs, "id", "text", threshold = 0.4,
      maxBucketSize = 10).count() === 1L)
  }

  test("decontamination flags exactly the docs sharing a benchmark n-gram") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains the bench 4-gram
      (2L, "beta gamma delta epsilon entirely new"), // shifted copy, still overlaps
      (3L, "totally different words in this one"),
      (4L, "alpha beta gamma x delta epsilon"))      // broken window: no shared 4-gram
      .toDF("id", "text")
    val bench = Seq("alpha beta gamma delta epsilon").toDF("text")
    val flags = graft.ext.Decontaminate
      .withContaminationFlag(docs, "text", bench, "text", n = 4)
      .select("id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(flags === Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    val kept = graft.ext.Decontaminate
      .decontaminate(docs, "text", bench, "text", n = 4)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(3L, 4L))
  }

  test("repetition signals: duplicate lines and dominant n-grams score high") {
    val docs = Seq(
      (1L, "nav home\nnav home\nnav home\nactual content line"),  // 3 dup lines of 4
      (2L, "alpha beta\ngamma delta"),                            // all lines unique
      (3L, "spam spam spam spam spam"),                           // one bigram, 4 windows
      (4L, "the quick brown fox jumps"))                          // all bigrams distinct
      .toDF("id", "text")
    val lf = docs.select($"id", TextAnalysis.dupLineFraction($"text").as("f"))
      .as[(Long, Double)].collect().toMap
    assert(lf(1L) === 0.5)   // 4 lines, 2 distinct
    assert(lf(2L) === 0.0)
    val cov = TextAnalysis.topNgramCoverage(docs, "id", "text")
      .as[(Long, Double)].collect().toMap
    assert(cov(3L) === 1.0)  // "spam spam" is every window
    assert(cov(4L) === 0.25) // 4 distinct windows
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in final plan)") {
    // SURVEY claims "AQE for runtime re-plan" handles join skew that the
    // salting helpers don't; this pins that claim to an executed plan.
    val c = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.adaptive.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // tiny thresholds so the hot key's ~2 MB partition counts as skewed
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force sort-merge
      import org.apache.spark.sql.functions.{col, lit, concat}
      val pad = "x" * 100
      // key 0: 20k fat rows in one shuffle partition; keys 1-3: 10 rows each
      val left = spark.range(0, 20000).select(lit(0L).as("k"),
          concat(lit(pad), col("id")).as("payload"))
        .unionByName(spark.range(0, 30).select((col("id") % 3 + 1).as("k"),
          concat(lit(pad), col("id")).as("payload")))
      val right = spark.range(0, 8).select((col("id") % 4).as("k"),
        col("id").as("rv"))
      val joined = left.join(right, "k")
      // collect() (not count(), which plans its own query) so THIS
      // DataFrame's AdaptiveSparkPlan executes and finalizes
      // key 0 matches 2 right rows, keys 1-3 match 2 each
      assert(joined.collect().length === 20000 * 2 + 30 * 2)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  test("compaction shrinks a many-small-files dir, preserving content exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString + "/t"
    val rows = (0 until 200).map(i => (i.toLong, s"doc $i"))
    rows.toDF("id", "text").repartition(8).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files() === 8)
    val (before, after) = graft.ext.Compact.compactParquet(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024)
    assert(before === 8 && after === 1)
    assert(files() === 1)
    // content identical, nothing lost or duplicated
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq === rows)
    // a second compaction is a no-op shape-wise
    assert(graft.ext.Compact.compactParquet(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024) === ((1, 1)))
  }

  test("compaction tolerates a concurrent append and never hides the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpc").toString + "/t"
    val rows = (0 until 100).map(i => (i.toLong, s"doc $i"))
    rows.toDF("id", "text").repartition(4).write.parquet(dir)
    var midCount = -1L
    val (before, after) = graft.ext.Compact.compactParquet(spark, dir,
      targetFileBytes = 1024L * 1024 * 1024,
      beforeSwap = () => {
        // a concurrent writer appends while the staged rewrite exists
        Seq((1000L, "late arrival")).toDF("id", "text")
          .coalesce(1).write.mode("append").parquet(dir)
        // a concurrent reader sees a COMPLETE table: the stage dir is
        // `_`-prefixed (invisible to parquet listing), the originals are
        // untouched — 100 original rows plus the late append, no dups
        midCount = spark.read.parquet(dir).count()
      })
    assert(before === 4 && after === 1)
    assert(midCount === 101L)
    // the concurrent append SURVIVES the swap (the old implementation's
    // whole-directory rename destroyed it); nothing lost or duplicated
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq === rows :+ (1000L, "late arrival"))
  }

  test("compaction rejects a partitioned (subdirectory) layout rather than flattening it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpp").toString + "/t"
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "text", "p")
      .write.partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      graft.ext.Compact.compactParquet(spark, dir)
    }
    assert(e.getMessage.contains("flat layout"))
    // the table is untouched by the rejected call
    assert(spark.read.parquet(dir).count() === 2L)
  }

  test("as-of join auto-renames colliding payload and never matches null keys") {
    val left = Seq(
      (1L, Option("u1"), 10L, "L1"), (2L, Option("u1"), 20L, "L2"),
      (3L, Option.empty[String], 30L, "L3"))
      .toDF("event_id", "key", "ts", "v")   // left owns a "v" column
    val right = Seq(
      (Option("u1"), 5L, "R5"), (Option.empty[String], 1L, "RN"))
      .toDF("key", "ts", "v")               // payload "v" collides
    val got = graft.ext.AsOf.join(left, right, Seq("key"), "ts", "ts")
    assert(got.columns.toSeq === Seq("event_id", "key", "ts", "v", "v_right"))
    val m = got.select("event_id", "v", "v_right").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(m(1L) === (("L1", Some("R5"))))
    assert(m(2L) === (("L2", Some("R5"))))
    // SQL null semantics: the left null-key row is KEPT with a null
    // payload — the null-keyed right row (ts=1, before everything) must
    // not carry onto it
    assert(m(3L) === (("L3", None)))
  }

  test("as-of join picks the latest right row at or before each left ts") {
    val left = Seq(
      (1L, "u1", 10L), (2L, "u1", 20L), (3L, "u1", 25L),
      (4L, "u2", 10L), (5L, "u3", 50L))
      .toDF("event_id", "key", "ts")
    val right = Seq(
      ("u1", 5L, 1.0), ("u1", 20L, 2.0), ("u1", 30L, 3.0),
      ("u2", 15L, 9.0))
      .toDF("key", "ts", "v")
    val got = graft.ext.AsOf.join(left, right, Seq("key"), "ts", "ts")
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got(1L) === Some(1.0))  // latest at-or-before ts=10 is ts=5
    assert(got(2L) === Some(2.0))  // equal ts is visible (>= semantics)
    assert(got(3L) === Some(2.0))  // ts=30 is in the future
    assert(got(4L) === None)       // no right row at or before ts=10
    assert(got(5L) === None)       // key with no right rows at all
  }

  test("approx corpus stats bound the exact values (HLL rsd, GK rank error)") {
    // 400 docs, 100 distinct texts, token counts 1..100 heavily skewed
    val docs = (0 until 400).map { i =>
      val d = i % 100
      (i.toLong, (0 to d).map(j => s"tok$j").mkString(" "))
    }.toDF("id", "text")
    val r = TextAnalysis.approxCorpusStats(docs, "text", rsd = 0.02).collect()(0)
    assert(r.getAs[Long]("n_docs") === 400L)
    // HLL at rsd=0.02: allow 3 sigma around the exact 100 distinct
    val est = r.getAs[Long]("approx_distinct_docs")
    assert(est >= 94 && est <= 106, s"HLL estimate $est far from 100")
    // GK percentiles: token counts are 1..100 each appearing 4 times, so
    // the value at rank ceil(p*400) is 50 / 90 / 99; rank error at
    // accuracy=1000 on 400 rows is < 1 rank, so the estimates are exact
    assert(r.getAs[Long]("tok_p50") === 50L)
    assert(r.getAs[Long]("tok_p90") === 90L)
    assert(r.getAs[Long]("tok_p99") === 99L)
  }

  test("chunk windows cover every token with stride overlap; short docs get one window") {
    val docs = Seq(
      (1L, (1 to 80).map(i => s"w$i").mkString(" ")),  // 80 tokens
      (2L, "tiny doc"))                                // 2 tokens
      .toDF("id", "text")
    val chunks = TextAnalysis.chunkWindows(docs, "id", "text",
      chunkTokens = 32, stride = 24)
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2) }
    val d1 = chunks(1L)
    // starts 1, 25, 49, 73 -> sizes 32, 32, 32, 8
    assert(d1.map(_._4).toSeq === Seq(32L, 32L, 32L, 8L))
    assert(d1.head._3.startsWith("w1 w2 ") && d1.last._3 === (73 to 80).map("w" + _).mkString(" "))
    // overlap: window 1 begins 8 tokens before window 0 ends
    assert(d1(1)._3.startsWith("w25 "))
    // every token appears in at least one chunk
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert(covered === (1 to 80).map("w" + _).toSet)
    assert(chunks(2L).map(c => (c._2, c._3, c._4)).toSeq === Seq((0L, "tiny doc", 2L)))
  }

  test("quality filter audits every failing rule and keeps clean docs") {
    val docs = Seq(
      (1L, "the cat sat on the mat with a hat and a bat and the rat ran to " +
        "the red barn door"),                               // clean: 20 words, stopword-rich
      (2L, "short text here"),                              // too_short
      (3L, null.asInstanceOf[String]),                      // empty
      (4L, "zzz " * 25 + "qqq"),                            // stopword_ratio_low
      (5L, ("supercalifragilistic " * 21).trim))            // stopword_low + wlen_out
      .toDF("doc_id", "text")
    val byId = graft.ext.QualityFilter.withQualityAudit(docs, "text")
      .select("doc_id", "drop_reasons", "keep")
      .as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L) === (("", true)))
    assert(byId(2L)._1.contains("too_short") && !byId(2L)._2)
    assert(byId(3L)._1.startsWith("empty") && !byId(3L)._2)
    assert(byId(4L)._1 === "stopword_ratio_low")
    assert(byId(5L)._1 === "stopword_ratio_low,mean_word_len_out")
    // keepOnly == the keep flags; report counts each rule once per doc
    assert(graft.ext.QualityFilter.keepOnly(docs, "text")
      .select("doc_id").as[Long].collect().toSet === Set(1L))
    val report = graft.ext.QualityFilter.reasonReport(
      graft.ext.QualityFilter.withQualityAudit(docs, "text"))
      .as[(String, Long)].collect().toMap
    // docs 2 (no stopwords at all), 4 and 5
    assert(report("stopword_ratio_low") === 3L)
    assert(report("mean_word_len_out") === 1L)
  }

  test("PII scrub replaces emails, IPs and phones; clean text unchanged") {
    val rows = Seq(
      (1L, "reach me at jane.doe+spam@mail.example.org for details"),
      (2L, "server 192.168.001.250 went down again"),
      (3L, "call +1 555-867-5309 or 040 1234 5678 now"),
      (4L, "perfectly clean prose with the number 42 in it"),
      (5L, "mixed: a@b.co then 10.0.0.7 then +49 30-123456"))
      .toDF("id", "text")
    val got = rows.select($"id", TextAnalysis.scrubPii($"text").as("s"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "reach me at <EMAIL> for details")
    assert(got(2L) === "server <IP> went down again")
    assert(got(3L) === "call <PHONE> or <PHONE> now")
    assert(got(4L) === "perfectly clean prose with the number 42 in it")
    // order: the email's digits and the IP's digits never leak into a
    // phone match
    assert(got(5L) === "mixed: <EMAIL> then <IP> then <PHONE>")
  }

  test("native signature expression matches the Column-composed specification") {
    val docs = corpus
    val sh = MinHashLSH.wordShingles(col("text"), 3)
    val got = docs.select(MinHashLSH.signature(sh, 8).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val spec = docs.select(
      MinHashLSH.signatureFromHashes(MinHashLSH.baseHashes(sh), 8).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq === spec.toSeq)
  }

  test("kmeans refines centroids to the assigned-cluster means") {
    val vecs = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 10f)),
      (2L, Array(1f, 1f)), (3L, Array(11f, 9f)))
      .toDF("vec_id", "embedding")
    val c = Similarity.kmeansCentroids(vecs, k = 2, iters = 1)
      .orderBy("cid").collect()
    // seed cells {0,2} and {1,3} -> means (0.5, 0.5) and (10.5, 9.5)
    assert(c.map(_.getSeq[Double](1)).toSeq === Seq(Seq(0.5, 0.5), Seq(10.5, 9.5)))
    // assignment against the trained centroids keeps the two clusters
    val assigned = Similarity.assignTo(vecs, Similarity.kmeansCentroids(vecs, 2, 1))
      .select("vec_id", "centroid_id").orderBy("vec_id")
      .as[(Long, Long)].collect().toSeq
    assert(assigned === Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 1L)))
  }

  test("kmeans trains at iters=10 in bounded time (per-round lineage truncation)") {
    // Without the per-round localCheckpoint, each round's plan embeds the
    // previous round's assign-join and Catalyst analysis goes geometric —
    // iters=10 would hang in the optimizer, not in execution. 60 s is an
    // order of magnitude above the expected runtime, tight enough to fail
    // on a geometric regression (r7 measured minutes at depth ~10).
    val vecs = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 10f)),
      (2L, Array(1f, 1f)), (3L, Array(11f, 9f)),
      (4L, Array(0.5f, 0.2f)), (5L, Array(9.5f, 10.5f)))
      .toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val c = Similarity.kmeansCentroids(vecs, k = 2, iters = 10)
      .orderBy("cid").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, s"kmeans iters=10 took $secs s — lineage growing?")
    // converged means: cluster {0,2,4} -> (0.5, 0.4), {1,3,5} -> (10.1667, 9.8333)
    assert(c.map(_.getSeq[Double](1)).toSeq ===
      Seq(Seq(0.5, 0.4), Seq(10.1667, 9.8333)))
  }

  test("connected components label every node with its component minimum") {
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 11L), (20L, 21L)).toDF("a", "b")
    val comp = graft.ext.Components.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 5-3-9-11 collapses to min 3 (multi-hop propagation)
    assert(comp === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 11L -> 3L,
      20L -> 20L, 21L -> 20L))
  }

  test("ivfSearchMany nprobe dial: planted cross-cell neighbor needs nprobe=2") {
    // centroids = first 2 vectors: c0=(1,0), c1=(0,1). The query (0.8,0.6)
    // sits in c0's cell, but its TRUE nearest neighbor id=2 (0.6,0.8) is
    // assigned to c1 — invisible at nprobe=1, recovered at nprobe=2.
    val e = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0.6f, 0.8f)), (3L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val q = Seq((10L, Array(0.8f, 0.6f))).toDF("qid", "q_vec")
    def top1(nprobe: Int): Long =
      graft.ext.Similarity.ivfSearchMany(e, q, k = 1, cells = 2, nprobe = nprobe)
        .filter($"nn_rank" === 1).select("nn_id").as[Long].head()
    assert(top1(1) === 3L, "nprobe=1 sees only the query's own cell")
    assert(top1(2) === 2L, "nprobe=2 recovers the planted cross-cell neighbor")
  }

  test("components of a 1000-node chain converge in O(log n) rounds") {
    // worst case for plain label propagation (diameter 999 → 999 rounds);
    // pointer jumping must close it in ~log2(1000) rounds. Forces the
    // distributed loop (driver fast path off) — that is the path whose
    // round bound this test pins.
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    try {
      val edges = spark.range(999).select($"id".as("a"), ($"id" + 1).as("b"))
      val (labels, rounds) =
        graft.ext.Components.componentsWithRounds(edges, maxIters = 15)
      assert(rounds <= 10, s"chain took $rounds rounds; pointer jumping broken?")
      val reps = labels.select("rep").distinct().as[Long].collect()
      assert(reps.toSeq === Seq(0L), "every node must label to the chain minimum")
      assert(labels.count() === 1000)
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }

  test("components throws instead of returning split labels at the cap") {
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    try {
      val edges = spark.range(99).select($"id".as("a"), ($"id" + 1).as("b"))
      intercept[IllegalStateException] {
        graft.ext.Components.componentsWithRounds(edges, maxIters = 2)
      }
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }

  test("components driver fast path matches the distributed loop exactly") {
    // deterministic pseudo-random graph: chains, cliques, singletons-by-
    // absence; same edges through both paths must label identically
    val edges = spark.range(400).select(
      (($"id" * 2654435761L) % 97).as("a"),
      (($"id" * 40503L + 7) % 97 + ($"id" % 3) * 100).as("b"))
    val fast = graft.ext.Components.components(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    val slow =
      try graft.ext.Components.components(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("graft.cc.driverMaxEdges")
    assert(fast === slow)
    assert(fast.nonEmpty)
  }

  test("components driver fast path reports zero rounds and min-id reps") {
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 11L), (20L, 21L)).toDF("a", "b")
    val (labels, rounds) = graft.ext.Components.componentsWithRounds(edges)
    assert(rounds === 0, "bounded graph must take the driver fast path")
    val comp = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 11L -> 3L,
      20L -> 20L, 21L -> 20L))
  }

  test("components falls back to the loop above the driver edge ceiling") {
    spark.conf.set("graft.cc.driverMaxEdges", "10")
    try {
      val edges = spark.range(99).select($"id".as("a"), ($"id" + 1).as("b"))
      val (labels, rounds) =
        graft.ext.Components.componentsWithRounds(edges)
      assert(rounds > 0, "oversized graph must take the distributed loop")
      assert(labels.select("rep").distinct().as[Long].collect().toSeq === Seq(0L))
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }

  test("components' null-keyed fallback evaluates the edge plan once") {
    // the bounded collect reads every edge, finds a null key and hands
    // the graph to the loop: the loop must reuse those rows, not re-run
    // the (in a fold: verify-join) plan that produced them
    val seen = spark.sparkContext.longAccumulator("components-edge-rows")
    val tick = udf((a: Long) => { seen.add(1); a }).asNondeterministic()
    val edges = spark.range(0, 6, 1, 2).select(tick($"id").as("a"),
      when($"id" =!= 5, $"id" + 1).as("b"))
    val (labels, rounds) = graft.ext.Components.componentsWithRounds(edges)
    assert(rounds > 0, "a null-keyed graph must take the distributed loop")
    assert(labels.count() > 0)
    assert(seen.value === 6L)
  }

  test("components rejects a driver edge ceiling outside its range loudly") {
    val edges = Seq((1L, 2L)).toDF("a", "b")
    for (bad <- Seq("lots", "-1", "2147483647")) {
      spark.conf.set("graft.cc.driverMaxEdges", bad)
      try {
        val e = intercept[IllegalArgumentException](
          graft.ext.Components.components(edges))
        assert(e.getMessage.contains("graft.cc.driverMaxEdges") &&
          e.getMessage.contains("[0, 2147483646]") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset("graft.cc.driverMaxEdges")
    }
  }

  test("nearDupKeep keeps one representative per near-dup cluster") {
    val dup = corpus.filter($"id" < 100)
      .select(($"id" + 500).as("id"), $"text") // exact copies of the 4 base docs
    val all = corpus.unionByName(dup)
    val kept = graft.ext.Components.nearDupKeep(all, "id", "text", 0.4)
      .select("id").as[Long].collect().toSet
    // each cluster {i, i+100, i+500} keeps only i
    assert(kept === Set(0L, 1L, 2L, 3L))
  }

  test("simhash banding finds planted near-dups; verify bound holds") {
    // exact copies (hamming 0) are guaranteed candidates in every band;
    // the suffix mutations land wherever their true hamming falls
    val withCopies = corpus.unionByName(
      corpus.filter($"id" < 100).select(($"id" + 200).as("id"), $"text"))
    val pairs = TextAnalysis.simhashNearDup(withCopies, "id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    // every emitted pair respects the verify bound
    assert(pairs.forall(_._3 <= 3))
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(Set((0L, 200L), (1L, 201L), (2L, 202L), (3L, 203L)).subsetOf(found))
    // unrelated documents never pair
    assert(!found.contains((0L, 1L)) && !found.contains((2L, 3L)))
  }

  test("simhash banding candidate generation is exact at hamming <= bands-1") {
    // two synthetic ids whose simhashes differ in exactly 3 of 32 bits:
    // identical text => hamming 0 (caught); and the pigeonhole bound is a
    // structural property, so spot-check: any pair the exact all-pairs
    // verify accepts at maxHamming=3 is also emitted by the banded path
    val sh = corpus.select($"id",
      TextAnalysis.simhash32($"text").as("sh"))
    val exact = sh.as("x").join(sh.as("y"), $"x.id" < $"y.id")
      .withColumn("hd", TextAnalysis.hammingDist32($"x.sh", $"y.sh"))
      .filter($"hd" <= 3)
      .select($"x.id", $"y.id").as[(Long, Long)].collect().toSet
    val banded = TextAnalysis.simhashNearDup(corpus, "id", "text", maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(banded === exact)
  }

  test("embedding near-dup finds planted perturbed vectors via LSH buckets") {
    // deterministic "embeddings": unit-ish vectors in distinct directions
    // plus small perturbations of each
    val base = (0 until 8).map { i =>
      (i.toLong, (0 until 64).map(j =>
        math.sin((i * 64 + j) * 0.7) + (if (j % 8 == i) 3.0 else 0.0)).toArray)
    }
    val near = base.map { case (id, v) =>
      (id + 100, v.zipWithIndex.map { case (x, j) => x + 0.02 * ((j % 3) - 1) })
    }
    val far = Seq((900L, (0 until 64).map(j => math.cos(j * 1.3) * 2.0).toArray))
    val vecs = (base ++ near ++ far).toDF("vec_id", "embedding")
    val pairs = Similarity.embedNearDup(vecs, minCos = 0.95)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.forall(_._3 >= 0.95))
    val found = pairs.map(p => (p._1, p._2)).toSet
    // most planted pairs collide in their LSH bucket (recall < 1 is the
    // documented contract; require a clear majority) and none is a far pair
    val planted = (0 until 8).map(i => (i.toLong, i + 100L)).toSet
    assert((found intersect planted).size >= 5)
    assert(found.forall { case (a, b) => b != 900L && a != 900L })
  }

  test("hash sampling and splits are deterministic, exhaustive, stratified") {
    val rows = (0 until 400).map(i => (i.toLong, if (i % 2 == 0) "en" else "xx"))
      .toDF("id", "cls")
    // splits: every row gets exactly one label; rerun is identical
    val split = Sampling.splitByHash(rows, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val labels = split.select($"id", $"split").as[(Long, String)].collect().toMap
    assert(labels.size === 400)
    assert(labels.values.toSet.subsetOf(Set("train", "val", "test")))
    val again = Sampling.splitByHash(rows, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"id", $"split").as[(Long, String)].collect().toMap
    assert(again === labels)
    // rough proportions (hash-uniform): train is the large split
    val byLabel = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel("train") > byLabel.getOrElse("val", 0))
    assert(byLabel("train") > byLabel.getOrElse("test", 0))
    // sampling: rate 1 keeps all, rate 0 (via default) drops all of a class
    val strat = Sampling.stratifiedSample(rows, "id", "cls",
      Map("en" -> 1.0), default = 0.0)
      .select($"id", $"cls").as[(Long, String)].collect()
    assert(strat.forall(_._2 == "en") && strat.length === 200)
    // plain sample keeps ~rate and is a subset of the full key set
    val kept = Sampling.hashSample(rows, "id", 0.25)
      .select($"id").as[Long].collect().toSet
    assert(kept.size > 50 && kept.size < 150)
  }

  test("frame sampling slices the expected byte windows, short blobs kept") {
    val media = Seq(
      (1L, ("abcdefgh" * 20).getBytes("UTF-8")),   // 160 bytes
      (2L, "tiny".getBytes("UTF-8")))              // < frameSize
      .toDF("media_id", "blob")
    val frames = Multimodal.sampleFrames(media, frameSize = 16, stride = 64)
      .select($"media_id", $"frame_idx", $"frame")
      .as[(Long, Long, Array[Byte])].collect().toSeq
      .sortBy(f => (f._1, f._2))
    // blob 1: offsets 1, 65, 129 -> 3 frames; the last is 160-129+1 = 32 > 16 so full
    val b1 = frames.filter(_._1 == 1L)
    assert(b1.map(_._2) === Seq(0L, 1L, 2L))
    assert(b1.forall(_._3.length == 16))
    assert(new String(b1.head._3, "UTF-8") === "abcdefghabcdefgh")
    // blob 2 yields its single truncated frame
    val b2 = frames.filter(_._1 == 2L)
    assert(b2.map(f => new String(f._3, "UTF-8")) === Seq("tiny"))
  }

  test("multi-table embed near-dup is a duplicate-free superset of one table") {
    val base = (0 until 16).map { i =>
      (i.toLong, (0 until 64).map(j =>
        math.sin((i * 64 + j) * 0.7) + (if (j % 8 == i % 8) 2.0 else 0.0)).toArray)
    }
    val near = base.map { case (id, v) =>
      (id + 100, v.zipWithIndex.map { case (x, j) => x + 0.02 * ((j % 3) - 1) })
    }
    val vecs = (base ++ near).toDF("vec_id", "embedding")
    val one = Similarity.embedNearDup(vecs, minCos = 0.95)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    val two = Similarity.embedNearDup(vecs, minCos = 0.95, tables = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    // table 0 of the 2-table index is exactly the 1-table index, so every
    // 1-table pair must re-appear; extra tables only ADD candidates
    assert(one.toSet.subsetOf(two.toSet))
    // first-agreeing-table dedup: no pair is emitted twice
    assert(two.size === two.toSet.size)
  }

  test("knn join equals in-cell brute force with deterministic rank order") {
    val vecs = (0 until 24).map { i =>
      (i.toLong, (0 until 64).map(j => math.sin((i * 7 + j) * 0.3)).toArray)
    }.toDF("vec_id", "embedding")
    val got = Similarity.knnJoin(vecs, k = 3, cells = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // brute-force reference over the same cell assignment
    val cells = Similarity.withCell(vecs, 4)
      .select($"vec_id".cast("long"), $"centroid_id".cast("long"), $"embedding")
      .as[(Long, Long, Array[Double])].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byCell = cells.groupBy(_._2)
    cells.foreach { case (id, cell, v) =>
      val expect = byCell(cell).filter(_._1 != id)
        .map { case (nid, _, nv) => (nid, cos(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(3)
      val g = got.getOrElse(id, Seq.empty)
      assert(g.map(_._3) === expect.map(_._1), s"neighbor ids for $id")
      // ranks are contiguous from 1 and cosines agree to the rounding
      assert(g.map(_._2) === (1L to g.size.toLong))
      g.map(_._4).zip(expect.map(_._2)).foreach { case (a, e) =>
        assert(math.abs(a - e) < 5e-4) }
    }
  }

  test("batched IVF search agrees with the single-query search") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 64).map(j => (math.sin((i * 13 + j) * 0.41) * 2).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val qid = 37L
    val single = Similarity.ivfSearch(vecs, qid, k = 16, nprobe = 1)
      .select($"vec_id", round($"cos", 4)).as[(Long, Double)].collect().toSet
    val queries = vecs.filter($"vec_id" === qid)
      .select($"vec_id".cast("long").as("qid"), $"embedding".as("q_vec"))
    // k >= corpus: the batched search returns the SAME neighbor set
    val many = Similarity.ivfSearchMany(vecs, queries, k = 100, nprobe = 1)
      .select($"nn_id", $"cos4").as[(Long, Double)].collect().toSet
    assert(many === single)
    // ranks are contiguous and cosines non-increasing
    val ranked = Similarity.ivfSearchMany(vecs, queries, k = 5, nprobe = 1)
      .orderBy("nn_rank").as[(Long, Long, Long, Double)].collect().toSeq
    assert(ranked.map(_._2) === (1L to ranked.size.toLong))
    assert(ranked.map(_._4).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)))
  }

  test("native cosine and l2sq match the composed specification exactly") {
    // float vectors (the embeddings shape) and double vectors (derived
    // corpora) — bit-exact equality, same as the oracle requires
    val fvecs = (0 until 6).map(i => (i.toLong,
      (0 until 64).map(j => (math.sin(i * 64 + j) * 3).toFloat).toArray)).toDF("id", "v")
    val dvecs = (0 until 6).map(i => (i.toLong,
      (0 until 64).map(j => math.cos(i * 31 + j) * 2).toArray)).toDF("id", "v")
    Seq(fvecs, dvecs).foreach { vecs =>
      val pairs = vecs.as("x").join(vecs.as("y"), $"x.id" < $"y.id")
      val got = pairs.select(
        Similarity.cosine($"x.v", $"y.v"), Similarity.l2sq($"x.v", $"y.v"))
        .as[(Double, Double)].collect().toSeq
      val spec = pairs.select(
        Similarity.cosineSpec($"x.v", $"y.v"), Similarity.l2sqSpec($"x.v", $"y.v"))
        .as[(Double, Double)].collect().toSeq
      assert(got === spec)
    }
  }

  test("native hyperplane bucket matches the composed specification") {
    val fvecs = (0 until 8).map(i => (i.toLong,
      (0 until 64).map(j => (math.sin(i * 64 + j) * 3).toFloat).toArray)).toDF("id", "v")
    val dvecs = (0 until 8).map(i => (i.toLong,
      (0 until 64).map(j => math.cos(i * 31 + j) * 2).toArray)).toDF("id", "v")
    Seq(fvecs, dvecs).foreach { vecs =>
      // default family and an offset family (the multi-table recall dial)
      val got = vecs.select(
        Similarity.bucket($"v"), Similarity.bucket($"v", planeOffset = 6))
        .as[(Long, Long)].collect().toSeq
      val spec = vecs.select(
        Similarity.bucketSpec($"v"), Similarity.bucketSpec($"v", planeOffset = 6))
        .as[(Long, Long)].collect().toSeq
      assert(got === spec)
    }
    // null algebra: wrong length (zip_with padding) nulls the bucket
    val short = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    assert(short.select(Similarity.bucket($"v")).collect().head.isNullAt(0))
    assert(short.select(Similarity.bucketSpec($"v")).collect().head.isNullAt(0))
  }

  test("native lang id matches the Column-composed specification") {
    val fixtures = corpus.select($"text")
      .union(Seq("", "le chat est dans la maison", "der hund ist nicht da",
        "el perro es una mascota", "the cat and the dog",
        "xyzzy plugh", "  THE   Der le el  ").toDF("text"))
    val got = fixtures.select(TextAnalysis.langId($"text"))
      .as[String].collect().toSeq
    val spec = fixtures.select(TextAnalysis.langIdSpec($"text"))
      .as[String].collect().toSeq
    assert(got === spec)
    // null text classifies as "unknown" on BOTH paths (the composed
    // when-chain falls through to its ELSE; the native expression must
    // not null-shortcircuit) — and the native column is non-nullable
    val nulls = Seq(Option.empty[String], Some("the cat")).toDF("text")
    assert(nulls.select(TextAnalysis.langId($"text"))
      .as[String].collect().toSeq === Seq("unknown", "en"))
    assert(nulls.select(TextAnalysis.langIdSpec($"text"))
      .as[String].collect().toSeq === Seq("unknown", "en"))
  }

  test("native rolling hash matches the Column-composed specification") {
    val fixtures = corpus.select($"text")
      .union(Seq("", "a", "abc", "Mixed CASE ünïcode", " padded\ttabs \n")
        .toDF("text"))
    val got = fixtures.select(TextAnalysis.rollingHash($"text"))
      .as[Long].collect().toSeq
    val spec = fixtures.select(TextAnalysis.rollingHashSpec($"text"))
      .as[Long].collect().toSeq
    assert(got === spec)
  }

  test("native simhash matches the Column-composed specification") {
    val fixtures = corpus.select($"text")
      .union(Seq("", "one", "Mixed CASE  tokens", " padded\ttabs \n").toDF("text"))
    val got = fixtures.select(TextAnalysis.simhash32($"text"))
      .as[Long].collect().toSeq
    val spec = fixtures.select(TextAnalysis.simhash32Spec($"text"))
      .as[Long].collect().toSeq
    assert(got === spec)
  }

  test("native char shingles match the Column-composed specification") {
    val fixtures = corpus.select($"text")
      .union(Seq("", "abc", "abcde", "abcdefgh", " sp  aces ").toDF("text"))
    val got = fixtures.select(MinHashLSH.shingles($"text", 5))
      .as[Seq[String]].collect().toSeq
    val spec = fixtures.select(MinHashLSH.shinglesSpec($"text", 5))
      .as[Seq[String]].collect().toSeq
    assert(got === spec)
  }

  test("native word shingles match the Column-composed specification") {
    val fixtures = corpus.select($"text")
      .union(Seq("", "one", "one two", "a  b   c", " padded  text ").toDF("text"))
    val got = fixtures.select(MinHashLSH.wordShingles($"text", 3))
      .as[Seq[String]].collect().toSeq
    val spec = fixtures.select(MinHashLSH.wordShinglesSpec($"text", 3))
      .as[Seq[String]].collect().toSeq
    assert(got === spec)
  }
}
