package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
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

  /** `body` with the session's SQL conf `key` set to `value`, restored
    * afterwards (a test-local switch on the one shared session).
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every node of an executed plan, through AQE's wrapper nodes. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n } ++ p.collect {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
    }.flatten

  /** Every file scan of an executed plan, through AQE's wrapper nodes. */
  def scansOf(p: SparkPlan): Seq[FileSourceScanExec] =
    planNodes(p).collect { case f: FileSourceScanExec => f }

  /** sf0.001 testdata dir (smoke scale). */
  val sfDir = "/root/testdata/sf0.001"
  /** Canonical 9-column fixture CSV header (single source of truth for
    * every test that writes fixture-shaped CSVs; deliberately corrupted
    * variants stay inline where used).
    */
  val fixtureHeader =
    "timestamp,line_id,batch_number,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count\n"
}
