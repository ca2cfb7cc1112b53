package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  /** One dedup-ingest fold step (bands=32, threshold 0.5) through a
    * sink that collects: returns the novel doc ids the sink received.
    */
  private def ingest(
      batch: org.apache.spark.sql.DataFrame, idx: String,
      batchId: Option[Long] = None, dedupWithinBatch: Boolean = false
  ): Set[Long] = {
    var sunk: Set[Long] = Set.empty
    Dedup.ingestDedupBatchTo(spark, batch, "doc_id", "text", idx,
      bands = 32, threshold = 0.5, batchId = batchId,
      dedupWithinBatch = dedupWithinBatch,
      sink = n => sunk = n.select("doc_id").collect().map(_.getLong(0)).toSet)
    sunk
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup of 1
    (4L, "completely different content about manufacturing quality control systems here"),
    (5L, "another unrelated document mentioning spark catalyst optimizer internals only")
  ).toDF("doc_id", "text")

  test("exactDedup keeps the lowest id per duplicate group") {
    val kept = Dedup.exactDedup(docs, "doc_id", Seq("text"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L))
  }

  test("exactDupGroups reports groups with >1 member") {
    val groups = Dedup.exactDupGroups(docs, Seq("text")).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("dup_count") == 2L)
  }

  test("shingles produce distinct n-grams; short docs yield empty") {
    val r = Seq("a b c d", "a b", "").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(r(0) == Seq("a b c", "b c d"))
    assert(r(1).isEmpty)
    assert(r(2).isEmpty)
  }

  test("jaccard: identical=1, disjoint=0") {
    val r = Seq((Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")))
      .toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
      .collect().map(_.getDouble(0))
    assert(r(0) == 1.0)
    assert(r(1) == 0.0)
  }

  test("minHash signature of identical shingle sets is identical") {
    val sigs = docs.filter(col("doc_id").isin(1, 2))
      .select(Dedup.minHashSignature(
        Dedup.shingles(col("text"), 3), 32).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))
  }

  test("minHashNearDups finds the exact and near pairs, not the unrelated ones") {
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // one-token diff
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simHash of identical token sequences matches; hamming=0") {
    val h = docs.filter(col("doc_id").isin(1, 2))
      .select(Dedup.simHash(split(col("text"), "\\s+")).as("h"))
      .collect().map(_.getLong(0))
    assert(h(0) == h(1))
  }

  test("simHashNearDups finds near pairs via pigeonhole buckets") {
    val pairs = Dedup.simHashNearDups(docs, "doc_id", "text", maxDistance = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // identical -> distance 0
    // the unrelated docs must pair with NOTHING, not merely not each other
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("embeddingNearDups on the testdata finds pairs above threshold, verified exactly") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = 0.35, planes = 6, tables = 8)
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.35))
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }

  test("semanticDedup keeps one min-id survivor per TRANSITIVE cluster plus singletons") {
    // 1≈2 and 2≈3 but cos(1,3)≈0.85 < 0.9: the {1,2,3} cluster exists
    // only through the transitive closure — the property pairwise
    // pruning (keep the lower id of each pair) would get wrong by
    // dropping 2 and 3 against different survivors
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.96f, 0.28f, 0f, 0f)),
      (3L, Array(0.85f, 0.53f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f)), // singleton
      (5L, Array(0f, 1f, 0f, 0f)),
      (6L, Array(0f, 0.98f, 0.2f, 0f)) // pairs with 5 only
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = 0.9, planes = 6, tables = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (5L, 6L)))
    val survivors = Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.9, planes = 6, tables = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L, 5L))
  }

  test("minhash signature agreement estimates jaccard (statistical property)") {
    // For random sets with known overlap, the fraction of agreeing
    // signature entries converges to the true jaccard — the property
    // LSH banding depends on. 256 hashes -> stderr ~ sqrt(j(1-j)/256) ~ 0.03.
    import graft.functions.VectorFunctions
    val a = (0 until 80).map(i => s"tok$i").mkString(" ")        // {0..79}
    val b = ((40 until 80) ++ (100 until 140)).map(i => s"tok$i").mkString(" ") // overlap 40/120
    val sigs = Seq(a, b).toDF("t")
      .select(VectorFunctions.minHashSignature(split(col("t"), " "), 256).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val agree = sigs(0).zip(sigs(1)).count { case (x, y) => x == y }
    val est = agree.toDouble / 256
    val trueJ = 40.0 / 120.0
    assert(math.abs(est - trueJ) < 0.12, s"minhash estimate $est vs true $trueJ")
  }

  test("minHashEstimatedPairs matches the committed kernel-replay golden at sf0.001") {
    // pins the Python replay in tools/gen_hash_goldens.py to the
    // engine kernels (shingles → xxh64(42) → splitmix affine mins →
    // band buckets → capped candidates → signature agreement): a
    // kernel drift on either side fails here before CORRECTNESS
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = Dedup.minHashEstimatedPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val key = docs.selectExpr(
        "CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k")
      .filter(col("k").isNotNull).collect().head.getLong(0)
    val golden = spark.read
      .parquet("tools/golden/minhash_est_pairs.parquet")
      .filter(col("corpus_key") === key)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3).toLong)).toSet
    assert(golden.nonEmpty, "golden has no rows for this corpus key")
    assert(got == golden,
      s"engine-vs-replay drift: only-engine=${got -- golden}, only-golden=${golden -- got}")
  }

  test("minHashEstimatedPairs vs verified pairs: estimation is the only difference") {
    // the estimated pass at threshold t must be a superset-or-equal
    // story explainable purely by estimator error, never by candidate
    // generation: the same banding feeds both, so every VERIFIED pair
    // whose true jaccard clears the SIGNATURE threshold comfortably
    // must appear in the estimated set
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val est = Dedup.minHashEstimatedPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // jaccard >= 0.9 pairs: signature agreement E = j, stderr ~ 0.06 —
    // clearing the 0.5 signature cut is a >6-sigma event per pair
    assert(verified.subsetOf(est),
      s"high-jaccard pairs missing from the estimated set: ${verified -- est}")
  }

  test("NearDupResult.use releases the cached intermediate; metric name is stable") {
    // earlier tests used the lazy variants (caller-owned lifecycle) —
    // start from a clean cache so the assertion is about THIS call
    spark.sharedState.cacheManager.clearCache()
    def cacheIsEmpty = spark.sharedState.cacheManager.isEmpty
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val result = Dedup.minHashNearDupsResult(docs, "doc_id", "text", threshold = 0.5)
    // deterministic, caller-keyed observation name — no hidden counter
    assert(result.bucketMetric == "graft_dedup_buckets_minhash_doc_id_text")
    val n = result.use { pairs =>
      assert(!spark.sharedState.cacheManager.isEmpty) // cache registered
      pairs.count()
    }
    assert(n > 0)
    assert(cacheIsEmpty, "use{} must unpersist the intermediate projection")
    // no NEW persistent RDD blocks left behind either (baseline-relative:
    // other tests' localCheckpoint residue awaits the ContextCleaner and
    // must not flake this assertion)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseRdds).isEmpty)
  }

  test("storage=NONE near-dup plans register no cache at all") {
    spark.sharedState.cacheManager.clearCache()
    val baseRdds = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Dedup.simHashNearDups(docs, "doc_id", "text", maxDistance = 8)
    pairs.count()
    assert(spark.sharedState.cacheManager.isEmpty)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseRdds).isEmpty)
  }

  test("bucket-overflow observation is readable under its stable name") {
    val result = Dedup.minHashNearDupsResult(docs, "doc_id", "text",
      threshold = 0.5, storage = org.apache.spark.storage.StorageLevel.NONE)
    result.pairs.collect()
    val metrics = result.pairs.queryExecution.observedMetrics
    assert(metrics.contains(result.bucketMetric))
    val row = metrics(result.bucketMetric)
    assert(row.getAs[Long]("overflow_buckets") == 0L)
    assert(row.getAs[Int]("max_bucket_size") >= 2) // docs 1,2,3 share buckets
  }

  test("simhash bucketed pair set equals the exact all-pairs hamming set at sf0.01") {
    // The pigeonhole guarantee is exactness, not approximation: any pair
    // within hamming distance d agrees on >= 1 of (d+1) blocks, so with
    // no bucket overflow the banded candidate set must contain every
    // true pair. Verify against a brute-force all-pairs hamming scan —
    // the cross join is the test's ORACLE only (500 docs -> 125k pairs),
    // never the engine's plan (see the no-cartesian scale guard below).
    // sf0.01 explicitly: the scale the driver's oracle gate runs at.
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val bucketed = Dedup.simHashNearDups(docs01, "doc_id", "text", maxDistance = 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashed = docs01.select(col("doc_id").as("id"),
      Dedup.simHash(TextAnalysis.tokens(col("text"))).as("h"))
    val exact = hashed.select(col("id").as("ia"), col("h").as("ha"))
      .crossJoin(hashed.select(col("id").as("ib"), col("h").as("hb")))
      .filter(col("ia") < col("ib"))
      .filter(Dedup.hamming64(col("ha"), col("hb")) <= 3)
      .select("ia", "ib")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == exact)
    // golden: hand-verified against the brute-force scan (round 6);
    // catches silent changes to the hash kernel or the banding
    assert(exact.size == 17, s"expected the 17 known sf0.01 pairs, got ${exact.size}")
  }

  test("catalog-scale minhash run has zero overflowed buckets at sf0.01") {
    // The maxBucket cap makes LSH loss OBSERVABLE, but nothing in the
    // driver gate reads the metric — this pins that at the oracle scale
    // the cap never fires, i.e. the oracle-verified pair set is the
    // complete one, not a truncated one.
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val result = Dedup.minHashNearDupsResult(docs01, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      storage = org.apache.spark.storage.StorageLevel.NONE)
    result.pairs.collect()
    val row = result.pairs.queryExecution.observedMetrics(result.bucketMetric)
    assert(row.getAs[Long]("overflow_buckets") == 0L,
      s"minhash bucket cap fired at sf0.01: $row")
  }

  test("two-phase cap: a viral duplicate's bucket is dropped with the loss observed") {
    // 40 identical docs -> one signature -> every one of their 16 band
    // buckets holds all 40 ids, over the cap of 10. With the two-phase
    // cap their id lists are never collected (the phase-1 count drops
    // the buckets first); the genuine near-dup pair among the normal
    // docs survives, and its surviving buckets keep the observation
    // alive (AQE prunes the CollectMetrics subtree only in the
    // degenerate every-bucket-dropped case).
    val viral = spark.range(0, 40).select((col("id") + 100).as("doc_id"),
      lit("the same viral document body repeated everywhere forever again").as("text"))
    val input = docs.filter(col("doc_id").isin(1, 3)).union(viral)
    val result = Dedup.minHashNearDupsResult(input, "doc_id", "text",
      threshold = 0.5, maxBucket = 10,
      storage = org.apache.spark.storage.StorageLevel.NONE)
    val pairs = result.pairs.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 3L)), "viral bucket dropped; genuine pair kept")
    val m = result.pairs.queryExecution.observedMetrics(result.bucketMetric)
    assert(m.getAs[Long]("overflow_buckets") == 16L) // the viral doc's 16 bands
    assert(m.getAs[Long]("overflow_rows") == 16L * 40)
    assert(m.getAs[Int]("max_bucket_size") == 40)
  }

  test("bucket ids are gathered by capped_collect, never unbounded collect_list") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val plan = Dedup.minHashNearDups(docs, "doc_id", "text")
      .queryExecution.optimizedPlan
    // no unbounded collect anywhere in the candidate plan…
    assert(!plan.toString.contains("collect_list"))
    // …the bucket gather is the memory-bounded capped_collect, and the
    // banded kernel projection feeds exactly ONE aggregate (single
    // scan — the old two-phase shape evaluated it twice for a count)
    val cappedAggs = plan.collect {
      case a: Aggregate
          if a.aggregateExpressions.exists(_.toString.contains("capped_collect")) => a
    }
    assert(cappedAggs.size == 1, plan.toString)
  }

  test("near-dup plans contain no cartesian product (scale guard)") {
    val plan = Dedup.minHashNearDups(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the semanticDedup composition (pairs -> components -> anti-join)
    // must inherit the guarantee end-to-end: the anti-join back onto
    // the corpus is a hash/broadcast-hash join, never a nested loop
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val semPlan = Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.35, planes = 6, tables = 8)
      .queryExecution.executedPlan.toString
    assert(!semPlan.contains("CartesianProduct"))
    assert(!semPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("exact ngram-jaccard equals minhash-verified pairs at sf0.01; cap is observable") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = Dedup.ngramJaccardNearDups(docs01, "doc_id", "text", threshold = 0.5,
      metricName = Some("ngram_sf001"))
    val got = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // minhash-with-exact-verify finds the same set at this SF (its
    // completeness is oracle-pinned), so the two must agree exactly
    val viaMinhash = Dedup.minHashNearDups(docs01, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == viaMinhash && got.nonEmpty)
    // no posting list overflowed -> the exact set is complete, not capped
    // (shared candidatePairs observation: bucket == shingle here)
    val m = exact.queryExecution.observedMetrics("ngram_sf001")
    assert(m.getAs[Long]("overflow_buckets") == 0L, m.toString)
    assert(m.getAs[Int]("max_bucket_size") >= 2)

    // a cap of 1 drops every shared shingle -> no pairs at all
    assert(Dedup.ngramJaccardNearDups(docs01, "doc_id", "text",
      threshold = 0.0, maxPostings = 1).count() == 0)
  }

  test("incremental index probe equals the in-memory cross pair set at sf0.01") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val idx = tempDir("graft_idx_").toString
    Dedup.writeMinHashIndex(
      docs01.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text",
      idx, mode = "overwrite")
    val probed = Dedup.minHashProbeIndex(
      spark, docs01.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
      idx, threshold = 0.5)
    // reference: the all-docs in-memory pair set, restricted to
    // (batch, corpus) cross pairs, either orientation
    val all = Dedup.minHashNearDups(docs01, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = all.flatMap { case (a, b) =>
      if (a % 5 == 0 && b % 5 != 0) Some((a, b))
      else if (b % 5 == 0 && a % 5 != 0) Some((b, a))
      else None
    }.toSet
    val got = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"probe mismatch: extra=${got -- expected}, missing=${expected -- got}")
    assert(got.nonEmpty, "vacuous: no cross pairs at sf0.01")

    // keepNovel drops exactly the batch ids with a matching corpus doc
    val batch = docs01.filter(pmod(col("doc_id"), lit(5)) === 0)
    val novel = Dedup.keepNovel(batch, "doc_id", probed)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novel == batch.select("doc_id").collect().map(_.getLong(0)).toSet
      -- got.map(_._1))
  }

  test("ingestDedupBatch: the fold dedups against everything SEEN, and " +
      "earlier batches' novel frames survive later appends") {
    // base T seeds the index; batch1 = {A1 ~ T (drop), C1 novel (keep),
    // C1' ~ C1 within-batch (keep — probe never compares batch to
    // itself)}; batch2 = {A2 ~ A1 (drop: A1 was REJECTED but the whole
    // batch was indexed — the append-all-seen policy pin), D2 ~ C1'
    // (drop: accepted docs index too), E2 novel (keep)}
    // Block construction (3-gram shingle Jaccard, computed in the
    // comments): P = 20 words, Q/R/S = 3-word tails/heads.
    //   T  = P ++ Q                      (base; 21 shingles)
    //   A1 = P ++ R                      J(A1,T) = 18/24 = 0.75  -> drop
    //   A2 = S ++ P[5..] ++ R            J(A2,A1) = 16/26 = 0.615 -> drop
    //                                    J(A2,T)  = 13/29 = 0.448 -> NOT
    //                                    a dup of anything ACCEPTED or of
    //                                    the base: only the indexed-
    //                                    though-rejected A1 catches it
    val p = (0 until 20).map(i => s"p$i")
    val t0 = (p ++ Seq("q0", "q1", "q2")).mkString(" ")
    val a1 = (p ++ Seq("r0", "r1", "r2")).mkString(" ")
    val a2 = (Seq("s0", "s1", "s2", "s3", "s4") ++ p.drop(5) ++
      Seq("r0", "r1", "r2")).mkString(" ")
    val c1 = "one two three four five six seven eight"
    def lastTo(s: String, w: String) =
      s.split(" ").dropRight(1).mkString(" ") + " " + w
    val base = Seq((0L, t0)).toDF("doc_id", "text")
    val batch1 = Seq(
      (11L, a1),               // ~T: dropped, but still indexed
      (12L, c1),               // novel: kept
      (13L, lastTo(c1, "nine")) // ~C1 within batch: kept (probe never
                               // compares a batch to itself)
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (21L, a2),                // ~A1 only: append-all-seen drops it
      (22L, lastTo(c1, "ten")), // ~C1 (accepted, indexed): dropped
      (23L, "red orange yellow green blue indigo violet ultraviolet")
    ).toDF("doc_id", "text")
    val idx = tempDir("graft_ingest_").toString
    // bands=32 (2 rows/band) so the J=0.615 plant's candidate collision
    // is structurally certain, not a hash accident
    Dedup.writeMinHashIndex(base, "doc_id", "text", idx,
      bands = 32, mode = "overwrite")
    val novel1 = ingest(batch1, idx)
    // batch2 runs (and appends) before novel1 is checked: the sink
    // collected batch1's rows during batch1's own step
    val novel2 = ingest(batch2, idx)
    assert(novel1 == Set(12L, 13L))
    assert(novel2 == Set(23L))
  }

  test("ingestDedupBatch: batchId replay skips the append (no index " +
      "duplication) and dedupWithinBatch keeps min-id survivors only") {
    val p = (0 until 20).map(i => s"p$i")
    val t0 = (p ++ Seq("q0", "q1", "q2")).mkString(" ")
    val c1 = "one two three four five six seven eight"
    def lastTo(s: String, w: String) =
      s.split(" ").dropRight(1).mkString(" ") + " " + w
    val base = Seq((0L, t0)).toDF("doc_id", "text")
    val batch1 = Seq(
      (11L, (p ++ Seq("r0", "r1", "r2")).mkString(" ")), // ~T: dropped
      (12L, c1),                                         // novel
      (13L, lastTo(c1, "nine"))                          // ~C1 within batch
    ).toDF("doc_id", "text")

    // --- dedupWithinBatch: min-id survivor of the 12~13 pair only ---
    val idxA = tempDir("graft_ingest_wb_").toString
    Dedup.writeMinHashIndex(base, "doc_id", "text", idxA,
      bands = 32, mode = "overwrite")
    val novelWb = ingest(batch1, idxA, dedupWithinBatch = true)
    assert(novelWb == Set(12L),
      "within-batch pass must keep only the min-id survivor")
    // the index still grew by the FULL batch: a later doc ~13 (the
    // DROPPED within-batch sibling) must still be caught
    val later = Seq((21L, lastTo(c1, "ten"))).toDF("doc_id", "text")
    assert(ingest(later, idxA).isEmpty,
      "full-batch indexing must catch near-dups of within-batch-dropped docs")

    // --- batchId replay guard ---
    val idxB = tempDir("graft_ingest_replay_").toString
    Dedup.writeMinHashIndex(base, "doc_id", "text", idxB,
      bands = 32, mode = "overwrite")
    def postings() = spark.read.parquet(s"$idxB/bands").count()
    assert(ingest(batch1, idxB, batchId = Some(0L)) == Set(12L, 13L))
    val afterFirst = postings()
    // replay of batch 0 (at-least-once): append SKIPPED, emission is
    // dedup-more — the index already holds the batch, so the
    // within-batch pair (12, 13) anti-joins away; no singleton novel
    // docs in this batch, so the replay emits nothing extra
    val replay = ingest(batch1, idxB, batchId = Some(0L))
    assert(postings() == afterFirst,
      "replayed batchId must not re-append postings")
    assert(replay.isEmpty,
      "replay emission must be dedup-more (12~13 now match the index)")
    // a singleton replays identically (exact self-id pairs excluded)
    val single = Seq((31L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val s1 = ingest(single, idxB, batchId = Some(1L))
    val afterSingle = postings()
    val s2 = ingest(single, idxB, batchId = Some(1L))
    assert(s1 == Set(31L))
    assert(s2 == Set(31L), "a singleton's replay must re-emit identically")
    assert(postings() == afterSingle)
    // the NEXT batch id appends normally
    val next = Seq((41L, "uno dos tres cuatro cinco seis siete"))
      .toDF("doc_id", "text")
    ingest(next, idxB, batchId = Some(2L))
    assert(postings() > afterSingle, "a fresh batchId must append")
  }

  test("probe validates index parameters from meta.txt and prunes shingle shards") {
    val idx = tempDir("graft_idx_meta_").toString
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    Dedup.writeMinHashIndex(docs01.filter(col("doc_id") < 400), "doc_id", "text",
      idx, mode = "overwrite", nShards = 16)
    // mismatched bands -> disjoint hash space -> must fail loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashProbeIndex(spark, docs01.filter(col("doc_id") >= 400),
        "doc_id", "text", idx, bands = 8)
    }
    assert(e.getMessage.contains("disjoint hash space"))

    // pick a batch doc that HAS candidates (a no-candidate doc collapses
    // the whole plan to an empty LocalTableScan — nothing to assert on),
    // then check its probe reads only its candidates' shards
    val any = Dedup.minHashProbeIndex(spark, docs01.filter(col("doc_id") >= 400),
      "doc_id", "text", idx, threshold = 0.0)
    val chosen = any.groupBy("batch_id").count()
      .orderBy(col("count"), col("batch_id")).first().getLong(0)
    val hitShards = any.filter(col("batch_id") === chosen)
      .select(pmod(xxhash64(col("corpus_id")), lit(16L))).distinct().count()
    val probed = Dedup.minHashProbeIndex(spark,
      docs01.filter(col("doc_id") === chosen), "doc_id", "text", idx, threshold = 0.0)
    assert(probed.collect().nonEmpty)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = {
      val direct = p.collect { case f: FileSourceScanExec => f }
      val nested = p.collect {
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case q: QueryStageExec => scansOf(q.plan)
      }.flatten
      direct ++ nested
    }
    val shingleScans = scansOf(probed.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("shingles")))
    assert(shingleScans.nonEmpty, probed.queryExecution.executedPlan.toString)
    val parts = shingleScans.map(_.metrics("numFiles").value).sum
    assert(parts <= hitShards && parts < 16,
      s"shingle scan read $parts files for $hitShards candidate shards " +
        "— shard pruning did not fire")
  }

  test("append-mode corpus growth: probe after append equals a fresh full index") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val a = docs01.filter(col("doc_id") < 200)
    val b = docs01.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val probe = docs01.filter(col("doc_id") >= 400)

    val grown = tempDir("graft_idx_grow_").toString
    Dedup.writeMinHashIndex(a, "doc_id", "text", grown, mode = "overwrite")
    Dedup.writeMinHashIndex(b, "doc_id", "text", grown, mode = "append")

    val fresh = tempDir("graft_idx_full_").toString
    Dedup.writeMinHashIndex(docs01.filter(col("doc_id") < 400), "doc_id", "text",
      fresh, mode = "overwrite")

    def pairs(idx: String) = Dedup
      .minHashProbeIndex(spark, probe, "doc_id", "text", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(grown) == pairs(fresh))

    // no posting duplication: every (band, bucket, id) appears once
    val postings = spark.read.parquet(s"$grown/bands")
    assert(postings.count() ==
      postings.dropDuplicates("band", "bucket", "id").count())

    // appending with different parameters is refused
    val e = intercept[IllegalArgumentException] {
      Dedup.writeMinHashIndex(b, "doc_id", "text", grown, mode = "append", bands = 8)
    }
    assert(e.getMessage.contains("built with"))
  }

  test("probe-time bucket cap filters postings; stats quantify the loss") {
    val idx = tempDir("graft_idx_cap_").toString
    Dedup.writeMinHashIndex(docs, "doc_id", "text", idx, mode = "overwrite")
    // every posting sits in a bucket of size >= 1; cap 0 removes all
    val probed = Dedup.minHashProbeIndex(
      spark, docs, "doc_id", "text", idx, threshold = 0.0, maxBucket = 0)
    assert(probed.count() == 0)
    val (overflowPostings, overflowBuckets, maxSize) =
      Dedup.minHashIndexStats(spark, idx, maxBucket = 0)
    assert(overflowPostings > 0 && overflowBuckets > 0 && maxSize >= 1)
    // a generous cap loses nothing, and bucket arithmetic is consistent
    val (p2, b2, _) = Dedup.minHashIndexStats(spark, idx, maxBucket = maxSize)
    assert(p2 == 0 && b2 == 0)
    // the cap-0 filter pushes to the parquet scan (no observe barrier)
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("CollectMetrics"))
  }

  test("property: pruned ngram join equals brute-force all-pairs at several thresholds") {
    // The counting co-occurrence filter claims EXACTNESS: no pair with
    // J >= t may be lost by the ov >= t*(|A|+|B|)/(1+t) candidacy
    // bound. Adversarial check on randomized corpora with planted
    // near-dups (mutated copies of earlier docs), at thresholds whose
    // required overlaps round differently — a float-rounding bug in
    // the ceil/slack arithmetic shows up as a missing pair here.
    val rnd = new scala.util.Random(0x5eed)
    val pool = (0 until 30).map(i => s"w$i")
    val base = (0 until 40).map { id =>
      (id.toLong, (0 until (6 + rnd.nextInt(20))).map(_ => pool(rnd.nextInt(pool.size))).mkString(" "))
    }
    // plant near-dups: mutate a suffix of an earlier doc
    val mutated = (0 until 20).map { k =>
      val (srcId, text) = base(rnd.nextInt(base.size))
      val toks = text.split(" ").toBuffer
      (0 until (1 + rnd.nextInt(3))).foreach { _ =>
        toks(rnd.nextInt(toks.size)) = pool(rnd.nextInt(pool.size))
      }
      (100L + k, toks.mkString(" "))
    }
    val corpus = base ++ mutated
    val df = corpus.toDF("doc_id", "text")

    def shingleSet(text: String, n: Int): Set[String] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    for (t <- Seq(0.34, 0.5, 0.7, 0.9)) {
      val expected = (for {
        i <- corpus.indices; j <- (i + 1) until corpus.size
        (ia, ta) = corpus(i); (ib, tb) = corpus(j)
        sa = shingleSet(ta, 3); sb = shingleSet(tb, 3)
        if sa.nonEmpty && sb.nonEmpty
        jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if jac >= t
      } yield (math.min(ia, ib), math.max(ia, ib), jac)).toSet
      val got = Dedup.ngramJaccardNearDups(df, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"threshold $t: got ${got.size} pairs, expected ${expected.size}; " +
          s"missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("duplicatePassageSpans finds the shared passage and merges overlapping windows") {
    // docs 1 and 2 share a verbatim 6-token passage at different
    // offsets; doc 3 is unrelated; doc 4 is too short to window
    val passage = "p1 p2 p3 p4 p5 p6"
    val df = Seq(
      (1L, s"a1 a2 a3 $passage a4 a5"),
      (2L, s"b1 $passage b2 b3 b4 b5 b6"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),
      (4L, "short doc")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatePassageSpans(df, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // the shared 6-token run yields 3 overlapping 4-windows per doc,
    // merged into ONE maximal span covering exactly the passage tokens:
    // doc 1 tokens 3..8, doc 2 tokens 1..6
    assert(spans.toSet == Set((1L, 3, 9, 3L), (2L, 1, 7, 3L)), spans.mkString(", "))
  }

  test("duplicatePassageSpans: within-doc repeats alone do not flag; distinct docs do") {
    val rep = "r1 r2 r3 r4"
    val df = Seq(
      // doc 1 repeats the window INTERNALLY only — count(distinct doc)=1
      (1L, s"$rep x1 x2 $rep"),
      (2L, "y1 y2 y3 y4 y5 y6")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicatePassageSpans(df, "doc_id", "text", n = 4).count() == 0)
    // add a second doc carrying the window: now BOTH occurrences in
    // doc 1 flag (two disjoint spans) plus doc 2's one
    val df2 = df.union(Seq((3L, s"z1 $rep z2")).toDF("doc_id", "text"))
    val spans = Dedup.duplicatePassageSpans(df2, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 0, 4), (1L, 6, 10), (3L, 1, 5)), spans.mkString(", "))
  }

  test("duplicatePassageSpans matches a brute-force replay on a planted corpus") {
    val rnd = new scala.util.Random(0xbeef)
    val pool = (0 until 25).map(i => s"t$i")
    val base = (0 until 30).map { id =>
      (id.toLong, (0 until (10 + rnd.nextInt(25))).map(_ => pool(rnd.nextInt(pool.size))).mkString(" "))
    }
    // plant verbatim passage copies: splice a random 8..14-token run of
    // an earlier doc into a new doc at a random offset
    val planted = (0 until 15).map { k =>
      val (_, src) = base(rnd.nextInt(base.size))
      val toks = src.split(" ")
      val runLen = math.min(toks.length, 8 + rnd.nextInt(7))
      val start = rnd.nextInt(toks.length - runLen + 1)
      val run = toks.slice(start, start + runLen)
      val host = (0 until (5 + rnd.nextInt(10))).map(_ => pool(rnd.nextInt(pool.size)))
      val cut = rnd.nextInt(host.length + 1)
      (200L + k, (host.take(cut) ++ run ++ host.drop(cut)).mkString(" "))
    }
    val corpus = base ++ planted
    val n = 6
    // brute force: all full n-windows, duplicated = text in >= 2 docs,
    // islands merged with the gap-<= n rule
    val wins = corpus.flatMap { case (id, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Seq.empty
      else toks.sliding(n).zipWithIndex.map { case (w, j) => (id, j, w.mkString(" ")) }.toSeq
    }
    val dupTexts = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val expected = wins.filter(w => dupTexts(w._3)).groupBy(_._1).flatMap { case (id, ws) =>
      val starts = ws.map(_._2).sorted
      val islands = starts.tail.foldLeft(List(List(starts.head))) {
        case (acc @ cur :: rest, j) =>
          if (j - cur.head <= n) (j :: cur) :: rest else List(j) :: acc
        case (Nil, j) => List(List(j))
      }
      islands.map(isl => (id, isl.min, isl.max + n, isl.size.toLong))
    }.toSet
    val got = Dedup.duplicatePassageSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("cutDuplicatePassages deletes exactly the flagged spans and keeps everything else") {
    val passage = "p1 p2 p3 p4 p5 p6"
    val df = Seq(
      (1L, s"a1 a2 a3 $passage a4 a5"),
      (2L, s"b1 $passage b2 b3 b4 b5 b6"),
      (3L, "c1 c2   c3\tc4 c5 c6 c7 c8 c9"), // odd whitespace: output normalizes
      (4L, "short doc")
    ).toDF("doc_id", "text")
    val got = Dedup.cutDuplicatePassages(df, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    // docs 1/2: the 6-token shared passage is cut (spans pinned by the
    // detection test above); doc 3 survives whitespace-normalized; doc 4
    // is below the window size and untouched
    assert(got == Set(
      (1L, "a1 a2 a3 a4 a5", 5, 6),
      (2L, "b1 b2 b3 b4 b5 b6", 6, 6),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9", 9, 0),
      (4L, "short doc", 2, 0)), got.mkString(", "))
  }

  test("cutDuplicatePassages matches a brute-force replay on a planted corpus") {
    val rnd = new scala.util.Random(0xfeed)
    val pool = (0 until 25).map(i => s"t$i")
    val base = (0 until 30).map { id =>
      (id.toLong, (0 until (10 + rnd.nextInt(25))).map(_ => pool(rnd.nextInt(pool.size))).mkString(" "))
    }
    val planted = (0 until 15).map { k =>
      val (_, src) = base(rnd.nextInt(base.size))
      val toks = src.split(" ")
      val runLen = math.min(toks.length, 8 + rnd.nextInt(7))
      val start = rnd.nextInt(toks.length - runLen + 1)
      val run = toks.slice(start, start + runLen)
      val host = (0 until (5 + rnd.nextInt(10))).map(_ => pool(rnd.nextInt(pool.size)))
      val cut = rnd.nextInt(host.length + 1)
      (200L + k, (host.take(cut) ++ run ++ host.drop(cut)).mkString(" "))
    }
    val corpus = base ++ planted
    val n = 6
    // brute-force spans (same replay as the detection test), then cut
    val wins = corpus.flatMap { case (id, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Seq.empty
      else toks.sliding(n).zipWithIndex.map { case (w, j) => (id, j, w.mkString(" ")) }.toSeq
    }
    val dupTexts = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val spansByDoc = wins.filter(w => dupTexts(w._3)).groupBy(_._1).map { case (id, ws) =>
      val starts = ws.map(_._2).sorted
      val islands = starts.tail.foldLeft(List(List(starts.head))) {
        case (acc @ cur :: rest, j) =>
          if (j - cur.head <= n) (j :: cur) :: rest else List(j) :: acc
        case (Nil, j) => List(List(j))
      }
      id -> islands.map(isl => (isl.min, isl.max + n))
    }
    val expected = corpus.map { case (id, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val spans = spansByDoc.getOrElse(id, Nil)
      val kept = toks.zipWithIndex.collect {
        case (t, i) if !spans.exists { case (s, e) => i >= s && i < e } => t
      }
      (id, kept.mkString(" "), kept.length, toks.length - kept.length)
    }.toSet
    val got = Dedup.cutDuplicatePassages(corpus.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("cutDuplicatePassages rejects reserved column names") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    assertThrows[IllegalArgumentException](
      Dedup.cutDuplicatePassages(df.withColumn("__spans", lit(1)), "doc_id", "text"))
  }

  test("ngramContainmentNearDups: finds the snippet-in-document pair Jaccard dilutes") {
    val snippet = "alpha beta gamma delta epsilon" // 3 distinct 3-shingles
    val filler = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, snippet),                   // contained doc
      (2L, s"$snippet $filler"),       // snippet verbatim inside a 45-token doc
      (3L, "zeta eta theta iota kappa")// unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentNearDups(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((1L, 2L)), s"expected only the snippet pair, got $got")
    assert(got((1L, 2L)) == 1.0, "snippet is fully contained")
    // the same pair is invisible to Jaccard at any useful threshold:
    // 3 shared shingles over a ~43-shingle union
    val jac = Dedup.ngramJaccardNearDups(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5)
    assert(jac.count() == 0, "Jaccard at 0.5 misses the size-mismatched pair")
  }

  test("ngramContainmentNearDups: counting filter loses no pair vs brute force") {
    // varied-size docs built from a tiny token pool so shingle sets
    // overlap heavily in all size combinations
    val pool = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (0 until 30).map { i =>
      val len = 3 + (i * 7) % 19
      (i.toLong, (0 until len).map(j => pool((i + j * j) % pool.size)).mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val got = Dedup.ngramContainmentNearDups(docs, "doc_id", "text",
          shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force over materialized shingle sets
      val sh = docs.collect().map { r =>
        val toks = r.getString(1).split("\\s+").filter(_.nonEmpty)
        r.getLong(0) -> toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      val brute = (for {
        (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
        c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
        if c >= t
      } yield (ia, ib, c)).toSet
      assert(got == brute,
        s"t=$t missing=${brute -- got} extra=${got -- brute}")
    }
  }

  test("pairAttributeOverlap: unordered attr pairs, diagonal, broadcast plan") {
    val docs = Seq(
      (1L, "s1"), (2L, "s2"), (3L, "s1"), (4L, "s3"), (5L, "s2")
    ).toDF("doc_id", "source")
    val pairs = Seq(
      (1L, 2L), // s1-s2
      (2L, 3L), // s2-s1 -> same unordered pair
      (1L, 3L), // s1-s1 diagonal
      (4L, 5L)  // s3-s2 -> (s2, s3)
    ).toDF("id_a", "id_b")
    val out = Dedup.pairAttributeOverlap(pairs, docs, "doc_id", "source")
    val got = out.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("s1", "s2") -> 2L, ("s1", "s1") -> 1L, ("s2", "s3") -> 1L))
    // scale guard: the docs side must stream through broadcast joins,
    // never shuffle (no sort-merge on the corpus frame)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle:\n$plan")
  }

  test("editDistancePairs: blocked typo pairs, hot-block cap, in-key-edit caveat") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, substring}
    val rows = Seq(
      (1L, "acme industries ltd"),
      (2L, "acme industriess ltd"),   // one insertion vs 1 -> dist 1
      (3L, "acme holdings gmbh"),     // same block, far -> no pair
      (4L, "zenith parts"),
      (5L, "zenith part"),            // one deletion vs 4 -> dist 1
      (6L, "XXacme industries ltd")   // edit INSIDE the key: other block
    ).toDF("id", "s")
    val got = Dedup.editDistancePairs(rows, "id", "s",
        blockKey = substring(col("s"), 1, 4), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (4L, 5L, 1)), s"pairs: $got")
    // the blocking caveat IS the contract: row 6 matches row 1 at
    // dist 2 but its prefix changed, so this pass cannot see it
    assert(!got.exists(p => p._1 == 1L && p._2 == 6L))

    // a block over maxBlock rows is excluded wholesale
    val hot = (1L to 10L).map(i => (i, s"aaaa $i")).toDF("id", "s")
    val capped = Dedup.editDistancePairs(hot, "id", "s",
      substring(col("s"), 1, 4), maxDist = 3, maxBlock = 5)
    assert(capped.count() == 0, "hot block must be excluded, not exploded")
    assertThrows[IllegalArgumentException](
      Dedup.editDistancePairs(hot, "id", "s", col("s"), maxDist = 0))
  }

  test("ingestDedupBatchTo with dedupWithinBatch and a batchId: the sink " +
      "sees the min-id survivors (concurrent with the append), the index " +
      "still grows by the full batch, and a replayed batchId re-sinks " +
      "without re-appending") {
    val p20 = (0 until 20).map(i => s"p$i")
    val t0 = (p20 ++ Seq("q0", "q1", "q2")).mkString(" ")
    val c1 = "one two three four five six seven eight"
    def lastTo(s: String, w: String) =
      s.split(" ").dropRight(1).mkString(" ") + " " + w
    val base = Seq((0L, t0)).toDF("doc_id", "text")
    val batch1 = Seq(
      (11L, (p20 ++ Seq("r0", "r1", "r2")).mkString(" ")), // ~T: dropped
      (12L, c1),                                           // novel
      (13L, lastTo(c1, "nine"))                            // ~C1 within batch
    ).toDF("doc_id", "text")
    val idx = tempDir("graft_ingest_to").toString
    Dedup.writeMinHashIndex(base, "doc_id", "text", idx,
      bands = 32, mode = "overwrite")
    assert(ingest(batch1, idx, batchId = Some(0L), dedupWithinBatch = true) ==
      Set(12L), "the sink must see only the min-id survivor of 12~13")
    // the index grew by the FULL batch: a later near-dup of the
    // within-batch-DROPPED doc 13 is caught
    val later = Seq((21L, lastTo(c1, "ten"))).toDF("doc_id", "text")
    assert(ingest(later, idx).isEmpty,
      s"index at $idx must have grown by the full batch")
    // replay: same batchId re-sinks with the designed dedup-more-on-
    // replay emission (12 and 13 are mutual near-dups already in the
    // index, so the whole batch anti-joins away) and does not re-append
    val postings = spark.read.parquet(s"$idx/bands").count()
    var replayed: Set[Long] = Set(-1L)
    var sinkRan = false
    Dedup.ingestDedupBatchTo(spark, batch1, "doc_id", "text", idx,
      bands = 32, threshold = 0.5, batchId = Some(0L),
      dedupWithinBatch = true,
      sink = n => { sinkRan = true
        replayed = n.select("doc_id").collect().map(_.getLong(0)).toSet })
    assert(sinkRan, "a replayed batch must still run the sink")
    assert(replayed.isEmpty,
      "replay emission must be dedup-more (12~13 now match the index)")
    assert(spark.read.parquet(s"$idx/bands").count() == postings,
      "a replayed batch must not re-append")
  }
}
