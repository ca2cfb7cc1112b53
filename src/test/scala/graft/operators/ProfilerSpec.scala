package graft.operators

import graft.SparkTestBase

class ProfilerSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val df = Seq(
    (Some(1.5), "a"), (Some(2.5), "b"), (None, "a"), (Some(2.5), null)
  ).toDF("x", "s")

  test("profile computes nulls, distincts, numeric min/max in one pass") {
    val p = Profiler.profile(df, Seq("x", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val x = p("x")
    assert(x.getAs[Long]("n_rows") == 4)
    assert(x.getAs[Long]("n_nulls") == 1)
    assert(x.getAs[Long]("n_distinct") == 2)
    assert(x.getAs[Double]("min_value") == 1.5)
    assert(x.getAs[Double]("max_value") == 2.5)
    val s = p("s")
    assert(s.getAs[Long]("n_nulls") == 1)
    assert(s.getAs[Long]("n_distinct") == 2)
    assert(s.isNullAt(s.fieldIndex("min_value"))) // non-numeric: no range
  }

  test("approx mode agrees with exact on small cardinalities") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Profiler.profile(docs, Seq("lang"), exact = true)
      .collect()(0).getAs[Long]("n_distinct")
    val approx = Profiler.profile(docs, Seq("lang"), exact = false)
      .collect()(0).getAs[Long]("n_distinct")
    assert(exact == approx) // HLL is exact at tiny cardinality
  }

  test("quantile profile: monotone, bounded, correct on a known distribution") {
    val nums = spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS x")
    val q = Profiler.profileQuantiles(nums, Seq("x"), Seq(0.25, 0.5, 0.75))
      .orderBy("percentile").collect()
    val values = q.map(_.getAs[Double]("value"))
    assert(values.sorted.toSeq == values.toSeq) // monotone in percentile
    assert(math.abs(values(1) - 500) <= 5)      // median of 1..1000
    assert(values.forall(v => v >= 1 && v <= 1000))
  }

  test("profile is a single job with no per-column scans") {
    val plan = Profiler.profile(df, Seq("x", "s"))
      .queryExecution.executedPlan.toString
    // one aggregate over one scan — no union of per-column subplans
    assert(!plan.contains("Union"))
  }

  test("corpusCard: per-source counts, distinct texts via content hash") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web", "en", "a b c", 5L),
      (2L, "web", "en", "a b c", 5L),   // exact dup of doc 1
      (3L, "web", "de", "d e", 3L),
      (4L, "books", "en", "f", 1L)
    ).toDF("doc_id", "source", "lang", "text", "n_chars")
    val got = Profiler.corpusCard(docs, "source", "lang", "text", "n_chars")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // web: 3 docs, 2 langs, 2 distinct texts, 3+3+2=8 tokens, 13 chars
    assert(got("web") == ((3L, 2L, 2L, 8L, 13L)), s"web: ${got("web")}")
    assert(got("books") == ((1L, 1L, 1L, 1L, 1L)), s"books: ${got("books")}")
  }

  test("corpusCard is one aggregate over one scan") {
    import spark.implicits._
    val docs = Seq((1L, "web", "en", "a", 1L))
      .toDF("doc_id", "source", "lang", "text", "n_chars")
    val plan = Profiler.corpusCard(docs, "source", "lang", "text", "n_chars")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Union") && !plan.contains("Join"),
      s"data card must be a single aggregate:\n$plan")
  }
}
