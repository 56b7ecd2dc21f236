package graft

import java.io.File

/** The oracle fixtures built on `graft.queries.Fixtures` reset their
  * tables and working directories on every call, so a warm bench pass
  * replays them whole: two passes in one session return the same rows,
  * and every `require` a fixture makes holds on both.
  */
class FixtureRerunSpec extends SparkSpec {

  // the t1 smoke tables (TESTDATA.md), beside the checkout or in $HOME
  private lazy val sfDir: String =
    (Iterator.iterate(new File("").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null) ++ Iterator(new File(sys.props("user.home"))))
      .map(new File(_, "testdata/sf0.001")).find(_.isDirectory)
      .getOrElse(fail("no testdata/sf0.001 above the working directory"))
      .getPath

  private val catalogFixtures = Seq(
    "manifest_sql_ddl", "manifest_sql_update", "manifest_sql_merge",
    "manifest_sql_merge_delete", "manifest_sql_merge_partial",
    "manifest_sql_merge_cond", "manifest_sql_merge_on_expr",
    "manifest_sql_merge_evolve", "manifest_sql_delete_in_subquery",
    "manifest_sql_delete_exists", "manifest_sql_delete_in_multi",
    "manifest_sql_add_default", "manifest_sql_generated",
    "manifest_sql_identity", "manifest_struct_update",
    "manifest_sql_update_corr_set", "manifest_sql_where_scalar",
    "manifest_sql_merge_subquery", "manifest_sql_merge_theta",
    "manifest_sql_delete_not_in", "manifest_sql_clone",
    "manifest_sql_generated_pruning", "manifest_sql_rename_column",
    "manifest_sql_widen_type", "manifest_sql_replace",
    "manifest_sql_maintenance", "manifest_sql_meta",
    "manifest_table_stream_replay", "manifest_sql_tag",
    "manifest_table_cdf_batch", "manifest_table_stream_sink_replay")

  // the path-rooted fixtures that read a scan's numFiles, share the
  // change-feed fold or drain a stream, and the file-roundtrip fixtures
  // that reset their output directory
  private val dirFixtures = Seq(
    "manifest_cdf", "manifest_cdf_stream_replay",
    "manifest_cdf_dv_stream_replay", "manifest_restore_cdf_stream_replay",
    "manifest_stream_replay",
    "manifest_scan_pruned", "manifest_partition_pruned", "manifest_scan_dv",
    "manifest_partition_evolution", "s3_response_roundtrip",
    "s4_request_roundtrip", "s5_dir_scan", "s8_repaired_roundtrip",
    "s9_tracking_append")

  (catalogFixtures ++ dirFixtures).foreach { name =>
    test(s"$name: a second pass returns the first pass's rows") {
      val fixture = SparkEntry.queries(name)
      def pass() = try fixture(spark, sfDir).collect().toSeq
        finally graft.core.Caches.release()
      val first = pass()
      val second = pass()
      assert(first.nonEmpty, s"$name returned no rows")
      assert(first.diff(second).isEmpty && second.diff(first).isEmpty,
        s"$name: pass 1 has ${first.size} rows, pass 2 ${second.size}")
    }
  }
}
