package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkTestBase {

  test("bucketed join matches the plain join and plans ZERO exchanges") {
    val tmp = tempDir("bucketing_").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")

    Bucketing.writeBucketed(orders, "t_orders_b", s"$tmp/orders",
      numBuckets = 4, bucketCols = Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "t_lineitem_b", s"$tmp/lineitem",
      numBuckets = 4, bucketCols = Seq("l_orderkey"), sortCols = Seq("l_orderkey"))

    val joined = Bucketing.bucketedEquiJoin(spark,
      "t_orders_b", "t_lineitem_b", Seq("o_orderkey" -> "l_orderkey"))
    val rows = joined.collect()

    // same multiset of joined rows as the un-bucketed join
    val expect = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey")).count()
    assert(rows.length == expect)

    // the whole point: a sort-merge join with NO shuffle on either side
    // (would catch BroadcastExchange too — the hint pins SMJ)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("writeBucketed overwrite is idempotent; layout survives re-registration") {
    val tmp = tempDir("bucketing_ow_").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(orders, "t_orders_ow", s"$tmp/o",
      numBuckets = 4, bucketCols = Seq("o_orderkey"))
    val n1 = spark.table("t_orders_ow").count()
    // second write with the same name/path replaces, not appends
    Bucketing.writeBucketed(orders, "t_orders_ow", s"$tmp/o",
      numBuckets = 4, bucketCols = Seq("o_orderkey"))
    assert(spark.table("t_orders_ow").count() == n1)
    // catalog still records the bucket spec after the overwrite
    val desc = spark.sql("DESCRIBE EXTENDED t_orders_ow").collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
    assert(desc.contains("Num Buckets 4"), desc)
  }
}
