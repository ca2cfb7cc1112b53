package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-style partitioned parquet layout — the third skipping
  * mechanism next to [[RangeLayout]]/[[ZOrder]] (row-group stats) and
  * [[Bucketing]] (join co-location): directory-encoded partition
  * values are pruned AT PLANNING TIME from the file listing
  * (`PartitionFilters` in the scan), so a filter on the partition
  * column never even lists the other partitions' files — the scan cost
  * is zero for excluded partitions, not "open and skip". The right
  * column is low-cardinality and almost-always-filtered (language,
  * date, source); high-cardinality partition columns create the
  * small-file problem [[Compaction]] exists to fix.
  *
  * `overwritePartitions` is the ingest-maintenance face: DYNAMIC
  * partition overwrite replaces exactly the partitions present in the
  * increment and leaves every other partition untouched — the daily
  * re-ingest shape ("replace today's date partition") that a plain
  * overwrite (which would truncate the whole table) cannot express.
  */
object PartitionedLayout {

  /** Write `df` under `outDir` partitioned by `partitionCols`
    * (directory-encoded). Static overwrite: replaces the whole dataset.
    */
  def write(df: DataFrame, outDir: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)
  }

  /** Replace ONLY the partitions present in `increment`, leaving all
    * others intact (dynamic partition overwrite). The conf flip is
    * scoped to this write and restored afterwards.
    */
  def overwritePartitions(
      increment: DataFrame, outDir: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    val spark = increment.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try increment.write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(outDir)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Read back a partitioned dataset; filters on the partition columns
    * prune directories at planning time (assert via `PartitionFilters`).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}
