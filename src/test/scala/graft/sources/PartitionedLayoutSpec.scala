package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

class PartitionedLayoutSpec extends SparkTestBase {

  private val base = s"${System.getProperty("java.io.tmpdir")}/graft_partlayout_spec"

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("partition filter prunes directories at planning time") {
    PartitionedLayout.write(docs, s"$base/bylang", Seq("lang"))
    val filtered = PartitionedLayout.read(spark, s"$base/bylang")
      .filter(col("lang") === "en")
    val scan = filtered.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head
    // the predicate lands in PartitionFilters (listing-level), not as a
    // row-level data filter
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(scan.partitionFilters.mkString.contains("lang"), scan.partitionFilters.toString)
    // pruned listing: only the en partition's files are read
    val allFiles = PartitionedLayout.read(spark, s"$base/bylang")
      .queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head
      .relation.location.inputFiles.length
    assert(scan.relation.location.inputFiles.length == allFiles) // same relation…
    filtered.collect()
    assert(scan.metrics("numFiles").value < allFiles, // …but fewer files scanned
      s"${scan.metrics("numFiles").value} vs $allFiles")
    // content parity
    assert(filtered.count() == docs.filter(col("lang") === "en").count())
  }

  test("dynamic overwrite replaces only the increment's partitions") {
    PartitionedLayout.write(docs, s"$base/dyn", Seq("lang"))
    val before = PartitionedLayout.read(spark, s"$base/dyn")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // re-ingest ONE language with half its docs
    val increment = docs.filter(col("lang") === "en" && col("doc_id") % 2 === 0)
    PartitionedLayout.overwritePartitions(increment, s"$base/dyn", Seq("lang"))
    val after = PartitionedLayout.read(spark, s"$base/dyn")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("en") == increment.count())
    // every other partition untouched
    (before.keySet - "en").foreach(l => assert(after(l) == before(l), l))
    // the conf flip was restored
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }
}
