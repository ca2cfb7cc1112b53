package graft.operators

import graft.SparkTestBase

class ContaminationSpec extends SparkTestBase {
  import spark.implicits._

  // the benchmark doc, a near-copy (one token changed), and clean docs
  private val corpus = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (12L, "totally unrelated content about spark catalyst optimizer internals here now"),
    (13L, "short doc")
  ).toDF("doc_id", "text")
  private val benchmark = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
  ).toDF("bid", "text")

  test("overlapCounts finds exact and near copies of benchmark docs, not clean ones") {
    val counts = Contamination.overlapCounts(
      corpus, "doc_id", "text", benchmark, "text", n = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_overlap"), r.getAs[Long]("n_shingles"))).toMap
    // doc 10 == benchmark: all 6 5-gram shingles overlap
    assert(counts(10L) == (6L, 6L))
    // doc 11 differs in the last token: the 5 shingles not touching it overlap
    assert(counts(11L)._1 == 5L)
    // clean and too-short docs are absent
    assert(!counts.contains(12L) && !counts.contains(13L))
  }

  test("decontaminate drops flagged docs, keeps clean and short ones") {
    val kept = Contamination.decontaminate(
      corpus, "doc_id", "text", benchmark, "text", n = 5, minOverlap = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 13L))
  }

  test("minOverlap raises the bar") {
    val kept = Contamination.decontaminate(
      corpus, "doc_id", "text", benchmark, "text", n = 5, minOverlap = 6L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L, 13L)) // only the exact copy reaches 6 overlaps
  }

  test("benchmark side broadcasts; no shuffle of the corpus for the join") {
    val plan = Contamination.overlapCounts(
      corpus, "doc_id", "text", benchmark, "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bloom variant agrees with exact at low fpp and is never less safe") {
    for (minOverlap <- Seq(1L, 6L)) {
      val exact = Contamination.decontaminate(
        corpus, "doc_id", "text", benchmark, "text", n = 5, minOverlap = minOverlap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val bloomed = Contamination.decontaminateBloom(
        corpus, "doc_id", "text", benchmark, "text", n = 5, minOverlap = minOverlap,
        expectedShingles = 10000L, fpp = 0.001)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // removal is a superset -> the KEPT set is a subset of exact's
      assert(bloomed.subsetOf(exact), s"minOverlap=$minOverlap")
      // at this fpp/size the false-positive mass is ~0: exact agreement
      assert(bloomed == exact, s"minOverlap=$minOverlap")
    }
  }

  test("bloom variant plans no benchmark join at all — a kernel filter probe") {
    val plan = Contamination.decontaminateBloom(
      corpus, "doc_id", "text", benchmark, "text", n = 5)
      .queryExecution.executedPlan.toString
    // the only join is the final id anti-join; the shingle side is a
    // Filter with the bloom kernel, not a join against benchmark rows
    assert(plan.toLowerCase.contains("bloommightcontain"), plan)
    assert(!plan.contains("BroadcastHashJoin Inner"), plan)
  }
}
