package graft

/** Whether a manifest table's data file carries parquet's bloom filter
  * for a column in every row group — read from the file's own footer and
  * bloom pages with parquet's reader, independently of the engine's
  * bloom cache. `file` is a manifest entry: a bare name under the
  * table's `data/`, or an absolute path (a shallow clone's entries).
  */
object ParquetBlooms {
  def has(spark: org.apache.spark.sql.SparkSession, dir: String,
          file: String, col: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val path =
      if (file.startsWith("/") || file.contains("://")) file
      else s"$dir/data/$file"
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        spark.sparkContext.hadoopConfiguration))
    try {
      val blocks = r.getFooter.getBlocks.asScala
      blocks.nonEmpty && blocks.forall(b =>
        b.getColumns.asScala.find(_.getPath.toDotString.equalsIgnoreCase(col))
          .exists(c => r.getBloomFilterDataReader(b).readBloomFilter(c) != null))
    } finally r.close()
  }
}
