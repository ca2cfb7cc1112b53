package graft.operators

import graft.SparkTestBase

class DriftSpec extends SparkTestBase {

  test("ksStatistic: hand-computed numerator on a known split") {
    import spark.implicits._
    // group g: A = {1,2,3}, B = {3,4,5}  (n_a=3, n_b=3)
    // distinct values 1,2,3,4,5 → FA = 1,2,3,3,3 ; FB = 0,0,1,2,3
    // |FA*3 - FB*3| = 3,6,6,3,0 → ks_num = 6  (D = 6/9 = 2/3)
    val df = Seq(
      ("g", 1.0, 0), ("g", 2.0, 0), ("g", 3.0, 0),
      ("g", 3.0, 1), ("g", 4.0, 1), ("g", 5.0, 1)
    ).toDF("k", "v", "s")
    val r = Drift.ksStatistic(df, "k", "v", "s").collect().head
    assert(r.getAs[Long]("n_a") == 3L)
    assert(r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("ks_num") == 6L)
  }

  test("ksStatistic: identical samples drift zero; disjoint samples drift maximally") {
    import spark.implicits._
    val same = Seq.tabulate(20)(i => ("g", (i % 5).toDouble, i % 2))
      .toDF("k", "v", "s")
    val r0 = Drift.ksStatistic(same, "k", "v", "s").collect().head
    assert(r0.getAs[Long]("ks_num") == 0L)
    // A entirely below B → D = 1 → ks_num = n_a*n_b
    val split = (Seq.tabulate(4)(i => ("g", i.toDouble, 0)) ++
      Seq.tabulate(6)(i => ("g", 100.0 + i, 1))).toDF("k", "v", "s")
    val r1 = Drift.ksStatistic(split, "k", "v", "s").collect().head
    assert(r1.getAs[Long]("ks_num") == 24L)
  }

  test("ksStatistic: null and NaN values are excluded; groups are independent") {
    import spark.implicits._
    val df = Seq(
      ("g1", Some(1.0), 0), ("g1", None, 0), ("g1", Some(Double.NaN), 1),
      ("g1", Some(2.0), 1),
      ("g2", Some(5.0), 0), ("g2", Some(5.0), 1)
    ).toDF("k", "v", "s")
    val rows = Drift.ksStatistic(df, "k", "v", "s")
      .collect().map(r => r.getString(0) -> r).toMap
    // g1 after exclusions: A={1}, B={2} → disjoint → ks_num = 1
    assert(rows("g1").getAs[Long]("n_a") == 1L)
    assert(rows("g1").getAs[Long]("n_b") == 1L)
    assert(rows("g1").getAs[Long]("ks_num") == 1L)
    // g2 identical singletons → 0
    assert(rows("g2").getAs[Long]("ks_num") == 0L)
  }

  test("ksStatistic matches a brute-force ECDF scan on seeded random data") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // quantized values force ties across and within samples
      val rows = Seq.tabulate(400) { i =>
        (s"g${i % 3}", (rnd.nextInt(25) / 2.0), rnd.nextInt(2))
      }
      val got = Drift.ksStatistic(rows.toDF("k", "v", "s"), "k", "v", "s")
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("ks_num")))
        .toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val a = rs.filter(_._3 == 0).map(_._2)
        val b = rs.filter(_._3 == 1).map(_._2)
        val ks = (a ++ b).distinct.map { v =>
          math.abs(a.count(_ <= v).toLong * b.size - b.count(_ <= v).toLong * a.size)
        }.max
        assert(got(g) == ((a.size.toLong, b.size.toLong, ks)), s"seed $seed group $g")
      }
    }
  }

  test("ksStatisticOnGrid equals exact KS over pre-quantized values") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(500)(i =>
      (s"g${i % 2}", rnd.nextDouble() * 3.0, rnd.nextInt(2)))
    val got = Drift.ksStatisticOnGrid(
        rows.toDF("k", "v", "s"), "k", "v", "s", cellsPerUnit = 16)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("ks_num")))
      .toMap
    // by definition: the grid statistic IS the exact statistic of the
    // floored values
    val floored = rows.map { case (k, v, s) =>
      (k, math.floor(v * 16.0), s) }
    val want = Drift.ksStatistic(
        floored.toDF("k", "v", "s"), "k", "v", "s")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("ks_num")))
      .toMap
    assert(got == want)
  }

  test("ksStatisticOnGrid: null/NaN are excluded BEFORE quantizing") {
    import spark.implicits._
    // if NaN survived to the long-typed floor it would fold into cell
    // 0 and inflate n_b — the exact hazard the pre-filter exists for
    val df = Seq(
      ("g", Some(0.01), 0), ("g", Some(Double.NaN), 1),
      ("g", None: Option[Double], 1), ("g", Some(0.02), 1)
    ).toDF("k", "v", "s")
    val r = Drift.ksStatisticOnGrid(df, "k", "v", "s", 16).collect().head
    assert(r.getAs[Long]("n_a") == 1L)
    assert(r.getAs[Long]("n_b") == 1L)
    assert(r.getAs[Long]("ks_num") == 0L) // both rows land in cell 0
  }

  test("ksStatisticOnGrid rejects a non-power-of-two grid") {
    import spark.implicits._
    val df = Seq(("g", 1.0, 0)).toDF("k", "v", "s")
    intercept[IllegalArgumentException] {
      Drift.ksStatisticOnGrid(df, "k", "v", "s", cellsPerUnit = 10)
    }
    intercept[IllegalArgumentException] {
      Drift.ksStatisticOnGrid(df, "k", "v", "s", cellsPerUnit = 0)
    }
  }

  test("ksStatistic: window is group-partitioned (scale guard)") {
    import spark.implicits._
    val df = Seq(("g", 1.0, 0)).toDF("k", "v", "s")
    val plan = Drift.ksStatistic(df, "k", "v", "s")
      .queryExecution.executedPlan.toString
    // an unpartitioned window would show an Exchange SinglePartition
    // feeding the cumulative-sum Window — the corpus on one task
    assert(plan.contains("Window"), s"expected a window node:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"cumulative window must not serialize through one task:\n$plan")
  }
}
