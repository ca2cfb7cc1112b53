package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

class RangeLayoutSpec extends SparkTestBase {

  private val base = s"${System.getProperty("java.io.tmpdir")}/graft_rangelayout_spec"

  // rows the parquet reader actually emitted (post row-group pruning),
  // summed over the scan nodes; scan+filter plans carry no exchange so
  // AQE leaves the plan bare and FileSourceScanExec is directly visible
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("layout is content-neutral and the range predicate is pushed to parquet") {
    val df = spark.range(10000).select(col("id"), (col("id") % 97).as("tag"))
    RangeLayout.write(df, s"$base/sorted", Seq("id"), numFiles = 8)
    val back = RangeLayout.read(spark, s"$base/sorted")
    assert(back.count() == 10000L)
    val pred = back.filter(col("id").between(100, 199))
    assert(pred.select(sum(col("id"))).collect()(0).getLong(0) == (100L to 199L).sum)
    val scan = pred.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(id,100)") &&
      pushed.contains("LessThanOrEqual(id,199)"), pushed)
  }

  test("range-clustered files skip row groups a random layout cannot") {
    val df = spark.range(10000).select(col("id"), (col("id") % 97).as("tag"))
    RangeLayout.write(df, s"$base/sorted", Seq("id"), numFiles = 8)
    df.repartition(8).write.mode("overwrite").parquet(s"$base/random")

    def filtered(dir: String) =
      spark.read.parquet(dir).filter(col("id").between(100, 199))
    val sortedEmitted = scanRows(filtered(s"$base/sorted"))
    val randomEmitted = scanRows(filtered(s"$base/random"))
    // both answer identically…
    assert(filtered(s"$base/sorted").collect().map(_.getLong(0)).sorted.toSeq ==
      filtered(s"$base/random").collect().map(_.getLong(0)).sorted.toSeq)
    // …but the clustered copy's min/max stats confine the read to the
    // overlapping range slice(s) — ~10000/8 rows, plus sampling slack:
    // repartitionByRange draws BOUNDARIES from a sample, so slice sizes
    // wobble a few percent around the ideal (1265 observed once). The
    // property under test is skipping, so assert a quarter-table bound
    // with comfortable margin, not the exact ideal slice
    assert(sortedEmitted <= 10000L / 4, s"clustered scan emitted $sortedEmitted")
    assert(randomEmitted == 10000L)
    assert(sortedEmitted >= 100L)
  }
}
