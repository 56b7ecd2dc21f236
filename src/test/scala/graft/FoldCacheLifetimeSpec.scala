package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.core.Caches
import graft.ext.ManifestTable
import graft.streaming.{Ingest, NearDupSink}

/** A micro-batch fold caches only for its batch: whatever it or its
  * operators persist (MinHashLSH's colliding buckets, the embed fold's
  * bucketed vectors included) is unpersisted when the fold returns or
  * throws, so a stream holds no more cached plans after its hundredth
  * batch than after its first.
  */
class FoldCacheLifetimeSpec extends SparkSpec {

  private val Words = Vector("the", "of", "and", "to", "in", "is", "oil",
    "fan", "gear", "pump", "fuel", "belt", "hub", "rim", "tire", "lamp",
    "door", "seat", "axle", "coil", "ring", "cable", "relay", "fuse",
    "light", "panel", "valve", "brake", "wheel", "shaft")

  /** A 30-word document, fixed by `key`, that passes the quality filter. */
  private def text(key: Long): String = {
    val r = new scala.util.Random(key)
    Seq.fill(30)(Words(r.nextInt(Words.size))).mkString(" ")
  }

  /** `n` documents from id `lo`, with a near-duplicate pair among them
    * (one word changed), so the within-batch near-dup stage fills its
    * bucket cache with colliding buckets.
    */
  private def docs(lo: Long, n: Int = 40): DataFrame = {
    val rows = (lo until lo + n).map(i => Row(i, text(i), "en")) :+
      Row(lo + n, text(lo).replaceFirst(" ", " modified "), "en")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))
  }

  /** `n` 8-dimensional vectors from id `lo`, with a scaled copy of the
    * first (cosine 1.0 to it).
    */
  private def vectors(lo: Long, n: Int = 20): DataFrame = {
    val r = new scala.util.Random(lo)
    val vs = Seq.fill(n)(Seq.fill(8)(r.nextGaussian()))
    val rows = vs.zipWithIndex.map { case (v, i) => Row(lo + i, v) } :+
      Row(lo + n, vs.head.map(_ * 1.01))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = false)))))
  }

  private def persistedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `body`, asserting it leaves no RDD persisted that was not before. */
  private def leavesNothingCached[A](what: String)(body: => A): A = {
    val before = persistedRdds()
    val out = body
    val left = persistedRdds() -- before
    assert(left.isEmpty, s"$what left ${left.size} RDD(s) persisted " +
      s"(getPersistentRDDs.size ${before.size} -> ${persistedRdds().size})")
    out
  }

  private def mkDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-cachelife-$tag").toString

  test("successive full ingest folds leave the cached-RDD set where it was") {
    val root = mkDir("full")
    val Seq(corpus, exact, near, stats) =
      Seq("corpus", "exact", "near", "stats").map(d => s"$root/$d")
    (0 until 3).foreach { b =>
      assert(leavesNothingCached(s"full fold b$b") {
        Ingest.ingestBatchFullCommitted(docs(b * 100L), corpus, exact, near,
          s"b$b", statsDir = Some(stats))
      })
    }
    // the near-duplicate of each batch's first document was dropped
    assert(ManifestTable.read(spark, corpus).count() === 120L)
  }

  test("successive embed folds leave the cached-RDD set where it was") {
    val root = mkDir("embed")
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    (0 until 3).foreach { b =>
      assert(leavesNothingCached(s"embed fold b$b") {
        NearDupSink.ingestBatchEmbedCommitted(vectors(b * 100L), corpus,
          index, s"b$b", bits = 4, dims = 8)
      })
    }
    assert(NearDupSink.readIndex(spark, index).isDefined)
  }

  test("a fold whose corpus commit throws rethrows and leaves nothing cached") {
    val root = mkDir("throw")
    val Seq(corpus, exact, near) = Seq("corpus", "exact", "near").map(d => s"$root/$d")
    assert(Ingest.ingestBatchFullCommitted(docs(0L), corpus, exact, near, "b0"))
    ManifestTable.addConstraint(spark, corpus, "early_ids", "id < 1000")
    val err = leavesNothingCached("failed fold") {
      intercept[IllegalArgumentException](
        Ingest.ingestBatchFullCommitted(docs(1000L), corpus, exact, near, "b1"))
    }
    assert(err.getMessage.contains("early_ids"), err.getMessage)
    assert(ManifestTable.read(spark, corpus).count() === 40L)
  }

  test("a scope frees only what it cached, and an inner scope only its own") {
    def frame() = spark.range(60).selectExpr("id", "id * 7 AS x")
    def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
    val owned = frame().persist()
    try {
      owned.count()
      val (evens, thirds) = leavesNothingCached("scope") {
        Caches.scoped {
          // an identical plan reads the cache owned outside the scope
          val same = Caches.persist(frame())
          val thirds = Caches.persist(same.filter("id % 3 = 0"))
          thirds.count()
          val evens = Caches.scoped {
            Caches.persist(thirds.filter("x % 2 = 0")).count()
          }
          assert(cached(thirds), "the inner scope freed the outer scope's cache")
          (evens, thirds)
        }
      }
      assert(evens === 10L)
      assert(!cached(thirds))
      assert(cached(owned), "the scope freed a cache it does not own")
    } finally owned.unpersist()
  }
}
