package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RebalancePartitions, Repartition}
import org.apache.spark.sql.functions._
import graft.ext.ManifestTable

/** The staged-write REBALANCE (optimization guide §6 — small files hurt
  * twice; coalesce on write): a small batch flowing through a many-way
  * session must land as few right-sized files, not one tiny file per
  * input partition; an explicitly sized caller layout (coalesce, keyed
  * repartition, the maintenance rewrites) is respected; the conf kill
  * switch restores the raw pass-through.
  */
class OptimizedWriteSpec extends SparkSpec {
  import spark.implicits._

  // The exact file counts below assume the AQE rebalance actually runs
  // and sizes output at the default advisory bytes — pin those confs so
  // a session configured differently cannot flake them (ADVICE r21 #4)
  spark.conf.set("spark.sql.adaptive.enabled", "true")
  spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")

  private def tmp(name: String): String = {
    val d = s"/tmp/graft_test/ow_$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d), true)
    d
  }

  test("a small append collapses to one file regardless of input partitioning") {
    val dir = tmp("collapse")
    ManifestTable.append(
      spark.range(1000).toDF("id").repartition(32), dir, "b0")
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.files.size === 1,
      s"a tiny 32-partition batch wrote ${snap.files.size} files")
    assert(ManifestTable.read(spark, dir).count() === 1000L)
  }

  test("an explicit coalesce(n) is caller layout and wins over the rebalance") {
    val dir = tmp("coalesce")
    ManifestTable.append(
      spark.range(1000).toDF("id").repartition(32).coalesce(4), dir, "b0")
    assert(ManifestTable.snapshot(spark, dir).files.size === 4)
  }

  test("a partitioned small append writes ~one file per partition value") {
    val dir = tmp("partitioned")
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 5).cast("string").as("grp"))
      .repartition(32)
    ManifestTable.append(df, dir, "b0", partitionBy = Seq("grp"))
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.files.size === 5,
      s"expected one file per grp value, got ${snap.files.size}")
    assert(snap.files.forall(f => snap.pvals.get(f).exists(_.contains("grp"))))
    assert(ManifestTable.read(spark, dir).count() === 1000L)
  }

  test("graft.write.rebalance=false restores the raw pass-through") {
    val dir = tmp("off")
    spark.conf.set("graft.write.rebalance", "false")
    try {
      ManifestTable.append(
        spark.range(1000).toDF("id").repartition(8), dir, "b0")
      assert(ManifestTable.snapshot(spark, dir).files.size === 8)
    } finally spark.conf.unset("graft.write.rebalance")
  }

  /** `body`'s jobs and the optimized plans of the writes it ran. */
  private def writes(body: => Any): (JobCount.Jobs, Seq[LogicalPlan]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommand
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.foreach {
          case w: DataWritingCommand => plans.add(w.query)
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the listener shares the job listeners' bus queue, so it has seen
    // every write once JobCount's marker job has drained that queue
    try (JobCount.during(body)._2, plans.toArray(Array.empty[LogicalPlan]).toSeq)
    finally spark.listenerManager.unregister(listener)
  }

  /** How a staged write sized its output: "coalesce(1)", "rebalance", or
    * "as is".
    */
  private def sizing(plan: LogicalPlan): String =
    if (plan.exists(_.isInstanceOf[RebalancePartitions])) "rebalance"
    else if (plan.exists {
      case r: Repartition => !r.shuffle && r.numPartitions == 1
      case _ => false
    }) "coalesce(1)"
    else "as is"

  test("a built cache or local rows under the advisory size stage in one job, one file") {
    val cached = spark.range(0, 1000, 1, 8).toDF("id").persist()
    try {
      cached.count() // build the cache
      for ((name, df) <- Seq("cached" -> cached,
          "local" -> (0L until 1000L).toDF("id"))) {
        val dir = tmp(s"small_$name")
        val (jobs, plans) = writes(ManifestTable.append(df, dir, "b0"))
        assert(plans.map(sizing) === Seq("coalesce(1)"), name)
        assert(jobs.count === 1, jobs)
        assert(ManifestTable.snapshot(spark, dir).files.size === 1, name)
        assert(ManifestTable.read(spark, dir).as[Long].collect().sorted.toSeq ===
          (0L until 1000L), name)
      }
      // a semi-join never adds rows to its left side
      val dir = tmp("small_semi")
      val semi = cached.join(cached.filter(col("id") % 2 === 0), Seq("id"), "left_semi")
      assert(writes(ManifestTable.append(semi, dir, "b0"))._2.map(sizing) ===
        Seq("coalesce(1)"))
      assert(ManifestTable.read(spark, dir).as[Long].collect().sorted.toSeq ===
        (0L until 1000L by 2L))
    } finally cached.unpersist()
  }

  test("an unbuilt cache, an over-advisory frame, a row-adding operator, a partitioned write and the kill switch keep their sizing") {
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def staged(name: String, df: DataFrame, partitionBy: Seq[String] = Nil) = {
      val dir = tmp(name)
      val plans = writes(ManifestTable.append(df, dir, "b0",
        partitionBy = partitionBy))._2
      (plans.map(sizing), ManifestTable.snapshot(spark, dir).files.size)
    }
    val unbuilt = spark.range(0, 1000, 1, 8).toDF("id").persist()
    try assert(staged("unbuilt", unbuilt) === (Seq("rebalance"), 1))
    finally unbuilt.unpersist()
    val built = spark.range(0, 1000, 1, 8).toDF("id").persist()
    try {
      built.count()
      // a measured size past the advisory one: the rebalance splits it
      spark.conf.set(adv, "1k")
      val (over, files) = try staged("over", built) finally spark.conf.set(adv, "64MB")
      assert(over === Seq("rebalance") && files > 1, s"$over, $files files")
      // an explode over the built cache: its size statistic is about the
      // input's (8 KB, under a 1 MB advisory size), its output 1000 times
      // that (distinct values, so the shuffle does not compress it away),
      // and the runtime measure splits it into advisory-sized files
      val exploded = built.select(
        explode(sequence(col("id") * 1000, col("id") * 1000 + 999)).as("id"))
      spark.conf.set(adv, "1m")
      val (grown, grownFiles) =
        try staged("exploded", exploded) finally spark.conf.set(adv, "64MB")
      assert(grown === Seq("rebalance") && grownFiles > 1, s"$grown, $grownFiles files")
      assert(ManifestTable.read(spark, "/tmp/graft_test/ow_exploded").count() === 1000000L)
      val grp = built.select(col("id"), (col("id") % 5).cast("string").as("grp"))
      assert(staged("built_partitioned", grp, Seq("grp")) === (Seq("rebalance"), 5))
      spark.conf.set("graft.write.rebalance", "false")
      try assert(staged("built_off", built) === (Seq("as is"), 8))
      finally spark.conf.unset("graft.write.rebalance")
    } finally built.unpersist()
  }

  test("compact still sizes its own output under the rebalance") {
    val dir = tmp("compact")
    ManifestTable.append(
      (0L until 4000L).map(i => (i, s"ballast text for row $i")).toDF("id", "text"),
      dir, "b0")
    ManifestTable.compact(spark, dir, targetFileBytes = 4L * 1024,
      clusterBy = Seq("id"))
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.files.size > 4,
      s"4KB-target compaction must split (got ${snap.files.size} files)")
  }
}
