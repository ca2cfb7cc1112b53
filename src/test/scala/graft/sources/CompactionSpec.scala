package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkTestBase {

  test("compact merges small files to the byte-derived count, content intact") {
    val tmp = tempDir("compaction_").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.repartition(32).write.parquet(s"$tmp/small")

    val smallFiles = new java.io.File(s"$tmp/small")
      .listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(smallFiles == 32)

    // target sized so the whole dataset fits in ONE file
    val stats = Compaction.compact(spark, s"$tmp/small", s"$tmp/big",
      targetFileBytes = 1L << 30)
    assert(stats.filesBefore == 32)
    assert(stats.filesAfter == 1)
    assert(stats.bytesBefore > 0)

    // identical content (row count + an order-insensitive checksum)
    val a = docs.agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text"))))
      .collect()(0)
    val b = spark.read.parquet(s"$tmp/big")
      .agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text"))))
      .collect()(0)
    assert(a == b)

    // a small target yields multiple files: ceil(bytes / target)
    val target = stats.bytesAfter / 3 + 1
    val stats2 = Compaction.compact(spark, s"$tmp/big", s"$tmp/resplit",
      targetFileBytes = target, rebalance = true)
    val expect = (stats2.bytesBefore + target - 1) / target
    assert(stats2.filesAfter == expect, s"$stats2 expect=$expect")
  }

  test("coalesce path plans no shuffle; rebalance path plans one") {
    val tmp = tempDir("compaction_plan_").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(8).write.parquet(s"$tmp/in")
    // plan inspection on the frames compact() builds
    val base = spark.read.parquet(s"$tmp/in")
    val co = base.coalesce(2).queryExecution.executedPlan.toString
    assert(!co.contains("Exchange"), co)
    val re = base.repartition(2).queryExecution.executedPlan.toString
    assert(re.contains("Exchange"), re)
  }
}
