package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide — Spark startup
  * dominates test wall time otherwise), built by the same
  * [[SparkEntry.sessionBuilder]] as Verify and Bench, so tests exercise
  * the session semantics the driver verifies.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkEntry.sessionBuilder("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  /** A fresh dir under the JVM's scratch root ([[graft.queries.Harness.scratchRoot]]),
    * which a shutdown hook deletes: specs leave nothing in the tmpdir.
    */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(graft.queries.Harness.scratchRoot, prefix)

  /** sf0.001 testdata dir (smoke scale). */
  val sfDir = "/root/testdata/sf0.001"
  /** Canonical 9-column fixture CSV header (single source of truth for
    * every test that writes fixture-shaped CSVs; deliberately corrupted
    * variants stay inline where used).
    */
  val fixtureHeader =
    "timestamp,line_id,batch_number,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count\n"
}
