package graft.queries

import graft.SparkTestBase

/** Plan-shape regression tests: the PLANS.md invariants as assertions.
  * A refactor that silently turns a broadcast anti-join into a shuffle,
  * or a top-k into a global sort, fails here before it costs anything
  * at scale.
  */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    Queries.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("p7 lookup compiles to a broadcast LEFT ANTI hash join") {
    val p = plan("p7_lookup_antijoin")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("a6 referential integrity compiles to a broadcast LEFT ANTI hash join") {
    val p = plan("a6_referential_integrity")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("cosine top-k uses TakeOrderedAndProject, not a global sort") {
    val p = plan("x_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("a5 z-score broadcasts a single stats row, never a window over everything") {
    val p = plan("a5_zscore_outlier")
    assert(p.contains("BroadcastNestedLoopJoin")) // 1-row IdentityBroadcast
    assert(!p.contains("Window"))
  }

  test("near-dup pipelines contain no cartesian products") {
    for (n <- Seq("x_dedup_minhash", "x_dedup_simhash", "x_dedup_embedding")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian product")
    }
  }

  test("aggregation queries read only the columns they use") {
    val p = plan("q1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"))
  }

  test("dim-subset predicates push into the parquet scan") {
    val p = plan("p7_lookup_antijoin")
    assert(p.contains("PushedFilters") &&
      p.contains("LessThanOrEqual(s_suppkey,5)"))
  }

  test("q6 predicates all push into the parquet scan; projection is pruned") {
    val p = plan("q6_filter_agg")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    // all four predicate columns reach the scan (discount appears twice
    // via BETWEEN's two bounds)
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount")
      && pushed.contains("l_quantity"), s"pushdown incomplete: $pushed")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice")
      && !readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"projection not pruned: $readSchema")
  }

  test("q4 EXISTS compiles to a LEFT SEMI join, never an inner + distinct") {
    val p = plan("q4_semi_join")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("star join broadcasts both dimension sides") {
    val p = plan("q5_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q10 returned-revenue top-k is a TakeOrdered + broadcast join-back") {
    val p = plan("q10_returns")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"winner frame not broadcast:\n$p")
  }

  test("weighted sample is a TakeOrdered top-k, not a global sort") {
    val p = plan("x_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort leaked in:\n$p")
  }

  test("wave-4 relational/profile entries stay free of cartesian products") {
    for (n <- Seq("q18_big_orders", "x_user_overlap_types",
        "x_mobility_matrix", "x_step_latency", "x_repeat_rate",
        "x_pii_incidence", "x_ann_degree_hist", "x_ivf_label_purity"))
      assert(!plan(n).contains("CartesianProduct"),
        s"$n has a cartesian product")
  }

  test("batch/ANN top-k windows pre-reduce map-side (partial WindowGroupLimit)") {
    // the row_number <= k filter must rewrite into a PARTIAL group
    // limit BEFORE the exchange — each map task then ships <= k rows
    // per query instead of funneling the corpus through per-query
    // reducers. A rank-without-filter refactor would silently lose it.
    // Plans print top-down, so the Partial node (a CHILD of the
    // exchange = executed before the shuffle) must appear on a line
    // BELOW the query_id hash exchange.
    def assertPartialBeforeExchange(name: String, p: String): Unit = {
      val lines = p.linesIterator.toIndexedSeq
      val pi = lines.indexWhere(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial"))
      assert(pi >= 0, s"$name: no Partial-mode WindowGroupLimit\n$p")
      val ei = lines.lastIndexWhere(
        _.contains("Exchange hashpartitioning(query_id"), pi)
      assert(ei >= 0 && ei < pi,
        s"$name: Partial group limit is not upstream of the query_id exchange\n$p")
    }
    for (n <- Seq("x_ann_lsh", "x_ann_ivf"))
      assertPartialBeforeExchange(n, plan(n))
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    assertPartialBeforeExchange("batchTopK", graft.operators.Similarity
      .batchTopK(emb, "vec_id", "embedding", qs, "qid", "qv", 10)
      .queryExecution.executedPlan.toString)
    // the kNN graph's n² scored pairs must pre-reduce the same way —
    // without the partial limit the shuffle carries all n² rows
    assertPartialBeforeExchange("x_knn_graph", plan("x_knn_graph"))
    // the quantized-serving wave: binary scan, both rerank stages and
    // the CMS lookup must stay cartesian-free, and the Hamming scan's
    // per-query cut must pre-reduce like every top-k in the family
    assertPartialBeforeExchange("x_ann_bq", plan("x_ann_bq"))
    for (n <- Seq("x_ann_bq", "x_bq_rerank", "x_mrl_rerank",
        "x_mrl_recall", "x_cms_topk"))
      assert(!plan(n).contains("CartesianProduct"),
        s"$n has a cartesian product")
  }

  test("heavy hitters: candidate set broadcasts; the stream never shuffles for it") {
    val p = plan("x_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bloom prune filters the fact BEFORE the join's exchange") {
    val p = plan("x_bloom_prune")
    val lines = p.linesIterator.toIndexedSeq
    // the kernel probe must appear in a Filter below (executed before)
    // the l_orderkey exchange feeding the join
    val probeLine = lines.indexWhere(l =>
      l.contains("Filter") && l.toLowerCase.contains("bloommightcontain"))
    assert(probeLine >= 0, s"no bloom filter node in plan\n$p")
    val exchangeLine = lines.lastIndexWhere(
      l => l.contains("Exchange hashpartitioning(l_orderkey"), lines.size - 1)
    if (exchangeLine >= 0)
      assert(exchangeLine < probeLine,
        s"bloom probe is not upstream of the fact exchange\n$p")
  }

  test("lm score is a kernel projection: no join, no explode after training") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = graft.operators.NgramLm.trainModel(docs, "lang", "text")
    val p = graft.operators.NgramLm.score(docs, "doc_id", "lang", "text", model)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("ngrammodelsum"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("ks drift runs on the fixed dyadic grid, group-partitioned") {
    val p = plan("x_ks_drift")
    // the quantize must be IN the plan (a refactor dropping it would
    // silently restore the per-type distinct-value window of r12)
    assert(p.contains("FLOOR"), s"no grid quantize in plan:\n$p")
    val winLines = p.linesIterator
      .filter(l => l.contains("Window") && !l.contains("WindowGroupLimit"))
      .toSeq
    assert(winLines.nonEmpty, s"expected the cumulative-ECDF window:\n$p")
    assert(winLines.forall(_.contains("event_type")),
      s"ECDF window must be partitioned by the group column:\n$p")
    // the window rides a hash exchange on the group column (the 1-row
    // midpoint min/max upstream legitimately uses SinglePartition)
    assert(p.contains("Exchange hashpartitioning(event_type"),
      s"ECDF window not hash-partitioned by group:\n$p")
  }

  test("binned drift is pure aggregation: no join, no window, no explode") {
    val p = plan("x_bin_drift")
    // edges are collected driver-side (9 rows, bounded) and compiled
    // into a comparison chain — nothing else is allowed to appear
    assert(!p.contains("Window"), s"window leaked into binned drift:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"shuffle join leaked into binned drift:\n$p")
    assert(!p.contains("Generate"), s"explode leaked into binned drift:\n$p")
  }

  test("mode-per-group is a two-level agg, never a per-group window") {
    val p = plan("x_mode_per_group")
    assert(!p.contains("Window"),
      s"mode regressed to a per-group window (one task per group):\n$p")
  }

  test("open-orders sweep uses exactly one partitioned window over deltas") {
    val p = plan("x_open_orders")
    val winLines = p.linesIterator
      .filter(l => l.contains("Window") && !l.contains("WindowGroupLimit"))
      .toSeq
    assert(winLines.size == 1,
      s"expected exactly the priority-partitioned cumulative sum:\n$p")
    assert(winLines.head.contains("prio"),
      s"sweep window must partition by priority:\n$p")
    assert(!p.contains("SinglePartition"),
      s"sweep window serialized through one task:\n$p")
  }

  test("rolling WAU joins the day spine hash-broadcast, never range-BNLJ") {
    val p = plan("x_rolling_wau")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"rolling window regressed to a per-row range probe:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in rolling WAU:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"day spine should broadcast as an equi-join:\n$p")
  }

  test("snapshot diff joins on (key, hash) projections") {
    val p = plan("x_snapshot_diff")
    // full-outer join on the key over xxhash64-projected sides — the
    // operator's select guarantees no payload column crosses the join
    assert(p.contains("FullOuter"), p)
    assert(p.contains("xxhash64"), p)
  }

  test("exact set-similarity joins run the counting filter: no cartesian, " +
      "pair agg partially combined map-side") {
    for (n <- Seq("x_dedup_ngram", "x_dedup_containment")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n probes per-row:\n$p")
      // the counting filter's per-pair overlap agg must pre-reduce
      // before its shuffle — the property that kills one-shingle
      // candidates without moving them
      assert(p.contains("partial_count") || p.contains("HashAggregate"),
        s"$n lost the map-side partial pair count:\n$p")
    }
  }

  test("dup-ngram fractions are one kernel projection: no shuffle at all") {
    val p = plan("x_dup_ngram_frac")
    assert(!p.contains("Exchange"), s"per-row repetition signal shuffles:\n$p")
    assert(p.contains("dupngramfraction") || p.contains("DupNgramFraction"),
      s"kernel expression missing from the plan:\n$p")
  }

  test("pagerank iterations reuse the materialized contribution frame") {
    val p = plan("x_pair_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    // the loop-invariant (src, dst, deg) frame is a checkpointed scan,
    // so no iteration re-derives edges from the corpus: the executed
    // plan must read it as an ExistingRDD/LogicalRDD scan
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"contribution frame is re-derived per iteration:\n$p")
  }
}
