package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkTestBase {

  private val base = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_spec"

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.map(_.metrics("numOutputRows").value).sum
  }

  // two independent dimensions, 65536 rows on a 256x256 grid
  private lazy val grid = spark.range(65536)
    .select((col("id") % 256).as("x"), expr("id div 256").as("y"),
      col("id").as("payload"))

  test("z-ordered layout is content-neutral and answers exactly") {
    ZOrder.write(grid, s"$base/z", Seq("x", "y"), numFiles = 16)
    val back = spark.read.parquet(s"$base/z")
    assert(back.count() == 65536L)
    val got = back.filter(col("x") === 7 && col("y") === 11)
      .collect().map(_.getAs[Long]("payload")).toSeq
    assert(got == Seq(11L * 256 + 7))
  }

  test("selective predicates on EITHER z-column skip row groups") {
    ZOrder.write(grid, s"$base/z", Seq("x", "y"), numFiles = 16)
    grid.repartition(16).write.mode("overwrite").parquet(s"$base/rand")
    def emitted(dir: String, pred: org.apache.spark.sql.Column) =
      scanRows(spark.read.parquet(dir).filter(pred))
    val xPred = col("x").between(10, 19)   // 1/25.6 of rows
    val yPred = col("y").between(100, 109) // 1/25.6 of rows
    // the random layout's row groups span everything — no skipping
    assert(emitted(s"$base/rand", xPred) == 65536L)
    assert(emitted(s"$base/rand", yPred) == 65536L)
    // the z layout prunes on BOTH dimensions (this is the property a
    // single-column range sort cannot give): well under half the table
    val zx = emitted(s"$base/z", xPred)
    val zy = emitted(s"$base/z", yPred)
    assert(zx < 65536L / 2, s"x-predicate emitted $zx")
    assert(zy < 65536L / 2, s"y-predicate emitted $zy")
    // and never fewer than the true matches
    assert(zx >= 2560L && zy >= 2560L)
  }

  test("z-value kernel interleaves bucket bits exactly") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    // boundaries k = {1..7}: bucket(v) = count of cut points <= v = v
    // for integer v in [0,7]
    val b = Array(Array(1d, 2d, 3d, 4d, 5d, 6d, 7d),
      Array(1d, 2d, 3d, 4d, 5d, 6d, 7d))
    def z(x: Double, y: Double): Long =
      graft.functions.Kernels.zValue(
        ArrayData.toArrayData(Array(x, y)), b)
    // x=3 (0b011) at even bit positions, y=5 (0b101) at odd:
    // bits set: x b0->pos0, x b1->pos2, y b0->pos1, y b2->pos5
    assert(z(3, 5) == (1L | (1L << 1) | (1L << 2) | (1L << 5)))
    assert(z(0, 0) == 0L)
    assert(z(7, 7) == 63L) // all 6 low bits
    // below the first cut point -> bucket 0; beyond the last -> max
    assert(z(0.5, 0) == 0L)
    assert(z(99, 0) == z(7, 0))
    // monotone in each column with the other pinned
    val xs = (0 to 7).map(v => z(v, 0))
    assert(xs == xs.sorted && xs.distinct.size == 8)
  }

  test("ZValueExpr rejects per-column resolutions that would wrap the 64-bit interleave") {
    // 4 columns -> 16 bits each; a 70000-cut-point table needs 17 bits
    // and Long << (shift mod 64) would silently corrupt the curve —
    // must be rejected at construction, not miscomputed
    val tooFine = Array.fill(4)((1 to 70000).map(_.toDouble).toArray)
    val ex = intercept[IllegalArgumentException] {
      graft.functions.VectorFunctions.zValue(
        array(lit(1d), lit(2d), lit(3d), lit(4d)), tooFine)
    }
    assert(ex.getMessage.contains("bucket count"))
    // the same resolution over 2 columns (32 bits each) is fine
    graft.functions.VectorFunctions.zValue(
      array(lit(1d), lit(2d)), tooFine.take(2))
    // single column: no practical bound (64-bit budget)
    graft.functions.VectorFunctions.zValue(
      array(lit(1d)), tooFine.take(1))
  }

  test("skew does not collapse the curve: quantile buckets, not min/max scaling") {
    // 90% of rows share x=0; a min/max scaler would put ALL of x's
    // information in one bucket and lose y-skipping entirely
    val skewed = spark.range(50000)
      .select(when(col("id") % 10 === 0, col("id") % 97).otherwise(0L).as("x"),
        (col("id") % 200).as("y"), col("id").as("payload"))
    ZOrder.write(skewed, s"$base/skew", Seq("x", "y"), numFiles = 16)
    val emitted = scanRows(
      spark.read.parquet(s"$base/skew").filter(col("y").between(0, 9)))
    assert(emitted < 50000L / 2, s"y-predicate under x-skew emitted $emitted")
  }
}
