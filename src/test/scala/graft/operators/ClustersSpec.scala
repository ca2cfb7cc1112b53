package graft.operators

import graft.SparkTestBase

class ClustersSpec extends SparkTestBase {
  import spark.implicits._

  /** Independent oracle: union-find with path compression over the
    * same edge list, run on the driver.
    */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    // roots after all unions; min-id root is guaranteed by the ordered union above
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** localThreshold = 0 forces the pure distributed large/small-star
    * iteration — the 100 TB path the property tests must cover; the
    * driver finisher is exercised separately below.
    */
  private def run(edges: Seq[(Long, Long)], localThreshold: Long = 0L): Map[Long, Long] =
    Clusters.connectedComponents(edges.toDF("id_a", "id_b"), localThreshold = localThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("distributed iteration matches union-find on seeded random graphs across densities") {
    for (seed <- 1 to 4; density <- Seq(0.3, 1.0, 3.0)) {
      val rnd = new scala.util.Random(seed * 1000 + (density * 10).toInt)
      val n = 120
      val nEdges = (n * density).toInt
      val edges = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = bruteComponents(edges)
      assert(run(edges) == expected, s"seed=$seed density=$density")
    }
  }

  test("small-graph finisher agrees with the distributed iteration") {
    val rnd = new scala.util.Random(99)
    val edges = Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges, localThreshold = 1000000L) == run(edges, localThreshold = 0L))
  }

  test("mid-iteration threshold crossing finishes on the driver with the same result") {
    // chain shrinks round over round; a threshold between 0 and the
    // initial edge count forces the distributed rounds first, then the
    // driver finisher
    val chain = (1L until 60L).map(i => (i, i + 1))
    assert(run(chain, localThreshold = 20L) == run(chain, localThreshold = 0L))
  }

  test("a long chain collapses to one component rooted at its minimum") {
    val chain = (1L until 60L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got.keySet == (1L to 60L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("disjoint cliques keep distinct roots; self-pairs carry no linkage") {
    val cliqueA = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val cliqueB = for (a <- 20L to 22L; b <- 20L to 22L if a < b) yield (a, b)
    val got = run(cliqueA ++ cliqueB ++ Seq((99L, 99L)))
    assert(got == ((10L to 13L).map(_ -> 10L) ++ (20L to 22L).map(_ -> 20L)).toMap)
  }

  test("empty pair set yields an empty component frame") {
    assert(run(Seq.empty) == Map.empty)
  }

  test("withClusterIds coalesces singletons to their own id; dedupClusters keeps roots and singletons") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val comps = Clusters.connectedComponents(Seq((1L, 3L)).toDF("id_a", "id_b"))
    val withIds = Clusters.withClusterIds(df, "doc_id", comps)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withIds == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L))
    val kept = Clusters.dedupClusters(df, "doc_id", comps)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 4L))
  }

  test("localCheckpoint blocks are released once the result no longer needs them") {
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // driver-finisher path: the result is driver data — EVERY round's
    // checkpoint must be unpersisted before the call returns
    Clusters.connectedComponents(pairs).collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- base).isEmpty,
      "finisher path must release all checkpoint blocks")
    // pure distributed path: the returned frame lazily reads the FINAL
    // edge list — exactly that one checkpoint may remain registered
    val comps = Clusters.connectedComponents(pairs, localThreshold = 0)
    assert(comps.collect().nonEmpty)
    val extra = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(extra.size <= 1, s"only the final checkpoint may remain, got ${extra.size}")
  }

  test("durable checkpointDir produces the same components") {
    val dir = tempDir("graft_cc_ckpt").toString
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val got = Clusters.connectedComponents(
      edges.toDF("id_a", "id_b"), checkpointDir = Some(dir), localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("end-to-end: ngram near-dup pairs cluster transitively over documents") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta mu lambda"),   // near 2, farther from 1
      (4L, "totally different text about spark shuffle partitions and joins here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardNearDups(docs, "doc_id", "text", threshold = 0.5)
    val comps = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1-2 and 2-3 are pairs; 1-3 may or may not pass the threshold, but
    // transitivity must place all three in component 1 either way
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val survivors = Clusters.dedupClusters(docs, "doc_id",
      Clusters.connectedComponents(Dedup.ngramJaccardNearDups(docs, "doc_id", "text", threshold = 0.5)))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 4L))
  }

  test("bestPerCluster: max score survives, ties to lower id, singletons kept") {
    import spark.implicits._
    // cluster {1,2,3}: scores 5,9,9 -> 2 and 3 tie on score, 2 wins;
    // cluster {10,11}: 10 wins on score; 20 is a singleton
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L), (10L, 7L), (11L, 3L), (20L, 1L)
    ).toDF("doc_id", "score")
    val comps = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)
    ).toDF("id", "component")
    val got = Clusters.bestPerCluster(docs, "doc_id", comps, "score")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 10L, 20L), s"survivors: $got")
  }

  test("bestPerCluster: corpus is anti-joined, never aggregated (scale guard)") {
    import spark.implicits._
    val docs = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "score")
    val comps = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val plan = Clusters.bestPerCluster(docs, "doc_id", comps, "score")
      .queryExecution.optimizedPlan.toString
    // the only aggregate must key on the component (winner agg over
    // members) — a corpus-wide groupBy(doc_id) would shuffle 100 TB
    assert(plan.contains("Join LeftAnti"), s"no anti-join in:\n$plan")
    assert(!plan.contains("Aggregate [doc_id"),
      s"corpus must not be aggregated:\n$plan")
  }

  test("triadCensus: hand-checked counts on a known graph") {
    import spark.implicits._
    // triangle {1,2,3} + pendant (3,4) + isolated edge (10,11)
    // degrees: 1→2, 2→2, 3→3, 4→1, 10→1, 11→1
    // wedges = 1+1+3+0+0+0 = 5; triangles = 1
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (10L, 11L)
    ).toDF("id_a", "id_b")
    val r = Clusters.triadCensus(pairs).collect().head
    assert(r.getAs[Long]("n_vertices") == 6L)
    assert(r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Long]("n_wedges") == 5L)
    assert(r.getAs[Long]("n_triangles") == 1L)
  }

  test("triadCensus: empty and triangle-free graphs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val r0 = Clusters.triadCensus(empty).collect().head
    assert(r0.getAs[Long]("n_vertices") == 0L)
    assert(r0.getAs[Long]("n_edges") == 0L)
    assert(r0.getAs[Long]("n_wedges") == 0L)
    assert(r0.getAs[Long]("n_triangles") == 0L)
    // path 1-2-3-4: 2 wedges, no triangle
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val r1 = Clusters.triadCensus(path).collect().head
    assert(r1.getAs[Long]("n_wedges") == 2L)
    assert(r1.getAs[Long]("n_triangles") == 0L)
  }

  test("triadCensus matches a brute-force count on seeded random graphs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = (for (a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.08) yield (a, b)).toSeq
      val es = edges.toSet
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val deg = edges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val wedges = deg.values.map(d => d * (d - 1) / 2).sum
      val tris = (for (a <- verts; b <- verts if a < b; c <- verts if b < c)
        yield (a, b, c)).count { case (a, b, c) =>
          es((a, b)) && es((b, c)) && es((a, c)) }
      val r = Clusters.triadCensus(edges.toDF("id_a", "id_b")).collect().head
      assert(r.getAs[Long]("n_vertices") == verts.size.toLong, s"seed $seed")
      assert(r.getAs[Long]("n_edges") == edges.size.toLong, s"seed $seed")
      assert(r.getAs[Long]("n_wedges") == wedges, s"seed $seed")
      assert(r.getAs[Long]("n_triangles") == tris.toLong, s"seed $seed")
    }
  }

  /** Driver replay of the integer PageRank fixed point — same
    * all-integer arithmetic, sequential, independent of Spark.
    */
  private def brutePageRank(
      edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L, dn: Long = 85L, dd: Long = 100L): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = adj.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (scale * (dd - dn)) / dd
    var pr = deg.keys.map(_ -> scale).toMap
    for (_ <- 1 to iters)
      pr = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> (base + (dn * es.map { case (src, _) => pr(src) / deg(src) }.sum) / dd)
      }
    pr
  }

  test("pageRankInt matches the driver integer replay on seeded random graphs") {
    for (seed <- 1 to 3; density <- Seq(0.5, 2.0)) {
      val rnd = new scala.util.Random(seed * 77 + (density * 10).toInt)
      val n = 60
      val raw = Seq.fill((n * density).toInt)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val got = Clusters.pageRankInt(raw.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brutePageRank(raw, 5), s"seed=$seed density=$density")
    }
  }

  test("pageRankInt ranks the hub of a star above its leaves") {
    val star = (1L to 8L).map(i => (0L, i))
    val pr = Clusters.pageRankInt(star.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.size == 9)
    assert((1L to 8L).forall(i => pr(0L) > pr(i)))
    // leaves are symmetric -> identical fixed-point scores
    assert((1L to 8L).map(pr).distinct.size == 1)
  }

  test("pageRankInt stays healthy and exact over a long (>=20-iteration) run") {
    // exercises the every-k lineage checkpoint: 21 rounds cross the
    // cadence twice; values must still match the sequential driver
    // replay bit-for-bit (checkpointing replays materialized rows,
    // never changes arithmetic)
    val rnd = new scala.util.Random(4242)
    val n = 40
    val raw = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val got = Clusters.pageRankInt(raw.toDF("id_a", "id_b"), iterations = 21)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brutePageRank(raw, 21))
  }

  test("pageRankInt plan depth is bounded by the checkpoint cadence, " +
      "not the iteration count") {
    // the r19 scale evidence for the iteration loop (guide §5): at
    // 100 TB an unbounded lineage re-plans every prior round per
    // action. Rounds past a lineage cut plan from the checkpoint leaf,
    // so the ANALYZED plan size at iterations = cadence+2 must match
    // iterations = 2·cadence+2 — constant across checkpoint windows —
    // and stay far below an unbounded tower's growth
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    def planLines(iters: Int): Int =
      Clusters.pageRankInt(edges, iterations = iters)
        .queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    val oneWindow = planLines(10)  // cadence 8 + 2 live rounds
    val twoWindows = planLines(18) // one more full window crossed
    assert(twoWindows == oneWindow,
      s"plan depth grew across checkpoint windows: $oneWindow -> $twoWindows")
  }

  test("pageRankInt is invariant to edge order and rejects bad parameters") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 5L))
    val a = Clusters.pageRankInt(edges.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Clusters.pageRankInt(edges.reverse.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    intercept[IllegalArgumentException](
      Clusters.pageRankInt(edges.toDF("id_a", "id_b"), iterations = 0))
    intercept[IllegalArgumentException](
      Clusters.pageRankInt(edges.toDF("id_a", "id_b"), dampNum = 101L))
  }
}
