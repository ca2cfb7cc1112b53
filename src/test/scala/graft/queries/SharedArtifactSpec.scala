package graft.queries

import graft.{SparkEntry, SparkTestBase}
import graft.operators.{Clusters, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pins the shared-artifact memoization behind the ngram pair-graph
  * family (`x_dedup_ngram` / `x_dedup_clusters` / `x_cluster_safe_split`)
  * and the passage family (`x_dup_passages` / `x_cut_passages`):
  *
  *  1. SHARING IS REAL — repeated catalog calls return the same cached
  *     frame (the corpus-wide shingle/window pass runs once per
  *     session, the r10 verdict's next-round #4), and the shared frame
  *     is persisted so bench reps replay cached blocks, not the job.
  *  2. SHARING IS INVISIBLE — each entry's rows equal the direct,
  *     un-memoized operator composition over the same testdata, so the
  *     memo can never change an answer, only when it is computed.
  */
class SharedArtifactSpec extends SparkTestBase {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("x_dedup_ngram: repeated calls share one persisted pairs frame") {
    val a = SparkEntry.queries("x_dedup_ngram")(spark, sfDir)
    val b = SparkEntry.queries("x_dedup_ngram")(spark, sfDir)
    assert(a eq b, "second call rebuilt the pair graph instead of reusing it")
    assert(a.storageLevel != StorageLevel.NONE,
      "shared pairs frame is not persisted — every consumer would re-run " +
        "the corpus-wide shingle job")
  }

  test("pair-graph entries match the direct un-memoized composition") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val directPairs = Dedup.ngramJaccardNearDups(
      docs, "doc_id", "text", shingleSize = 3, threshold = 0.5)
    assert(rows(SparkEntry.queries("x_dedup_ngram")(spark, sfDir))
      == rows(directPairs))
    val directClusters = Clusters.connectedComponents(directPairs)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("component", "cluster_id")
    assert(rows(SparkEntry.queries("x_dedup_clusters")(spark, sfDir))
      == rows(directClusters))
  }

  test("x_dup_passages: repeated calls share one persisted span frame") {
    val a = SparkEntry.queries("x_dup_passages")(spark, sfDir)
    val b = SparkEntry.queries("x_dup_passages")(spark, sfDir)
    assert(a eq b, "second call re-ran passage detection instead of reusing it")
    assert(a.storageLevel != StorageLevel.NONE)
  }

  test("x_cut_passages matches the direct single-shot cut") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val direct = Dedup.cutDuplicatePassages(docs, "doc_id", "text", n = 8)
    assert(rows(SparkEntry.queries("x_cut_passages")(spark, sfDir))
      == rows(direct))
  }

  test("overlap and degree entries match direct computation off un-memoized pairs") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val directPairs = Dedup.ngramJaccardNearDups(
      docs, "doc_id", "text", shingleSize = 3, threshold = 0.5)
    val directOverlap = Dedup.pairAttributeOverlap(directPairs, docs, "doc_id", "source")
      .select(col("attr_a").as("source_a"), col("attr_b").as("source_b"),
        col("n_pairs"))
    assert(rows(SparkEntry.queries("x_source_overlap")(spark, sfDir))
      == rows(directOverlap))
    val directDegree = directPairs.select(col("id_a").as("doc_id"))
      .unionAll(directPairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
    assert(rows(SparkEntry.queries("x_dup_degree")(spark, sfDir))
      == rows(directDegree))
  }

  /** The cache-builder instances a frame's optimized plan reads from —
    * two frames sharing one persisted artifact surface the SAME
    * builder (identity), a rebuilt artifact a different one.
    */
  private def cacheBuilders(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder
    }

  test("fuzzy pair frame: shared, persisted, and invisible to all three consumers") {
    import org.apache.spark.sql.functions._
    // the entries are projections of the shared provenance-tagged
    // frame, so sharing is pinned at the CACHE level: both calls (and
    // the single-pass entry) must read the same InMemoryRelation
    val a = SparkEntry.queries("x_fuzzy_multipass")(spark, sfDir)
    val b = SparkEntry.queries("x_fuzzy_multipass")(spark, sfDir)
    val ca = cacheBuilders(a)
    assert(ca.nonEmpty, "multipass entry does not read a persisted shared frame")
    assert(ca.zip(cacheBuilders(b)).forall { case (x, y) => x eq y },
      "second call rebuilt the fuzzy pairs instead of reusing them")
    val single = SparkEntry.queries("x_fuzzy_match")(spark, sfDir)
    val cs = cacheBuilders(single)
    assert(cs.nonEmpty && cs.forall(c => ca.exists(_ eq c)),
      "x_fuzzy_match does not ride the shared fuzzy pair frame")
    // invisible: the memoized pairs equal the direct two-pass union
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val titles = docs.select(col("doc_id"),
      substring(col("text"), 1, 30).as("title"))
    val typos = titles.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(substring(col("title"), 1, 2),
          lit("Z"), expr("substring(title, 4)")).as("title"))
    val all = titles.union(typos)
    val directPrefix = Dedup.editDistancePairs(all, "doc_id", "title",
      substring(col("title"), 1, 6), maxDist = 2)
    val direct = directPrefix
      .union(Dedup.editDistancePairs(all, "doc_id", "title",
        expr("substring(title, greatest(1, length(title) - 5), 6)"), maxDist = 2))
      .distinct()
    assert(rows(a) == rows(direct))
    // the single-pass entry IS the direct prefix pass (the provenance
    // filter loses and invents nothing)
    assert(rows(single) == rows(directPrefix))
    // golden records derive from the same shared frame
    val directGolden = Clusters.dedupClusters(all, "doc_id",
      Clusters.connectedComponents(direct.select(col("id_a"), col("id_b"))))
      .select(col("doc_id"))
    assert(rows(SparkEntry.queries("x_golden_records")(spark, sfDir))
      == rows(directGolden))
  }

  test("shingle projection: containment and the pair graph share one cached pass, invisibly") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // invisible: the shared-projection entry equals the direct
    // un-memoized operator at the catalog threshold
    val direct = Dedup.ngramContainmentNearDups(
      docs, "doc_id", "text", shingleSize = 3, threshold = 0.7)
    val entry = SparkEntry.queries("x_dedup_containment")(spark, sfDir)
    assert(rows(entry) == rows(direct))
    // shared: the session-memoized (id, shingles) frame IS the cached
    // representation of Dedup.shingleProjection over the documents
    // table (CacheManager lookup by canonical plan), and the
    // containment entry's plan reads exactly that cache entry. The
    // pair graph consumes the same memo by construction (its build
    // goes through the identical docShingles call — the nested cache
    // is invisible from outside its own persisted pairs frame).
    val cc = cacheBuilders(entry)
    assert(cc.nonEmpty, "containment entry does not read the cached shingle frame")
    val shingles = Dedup.shingleProjection(docs, "doc_id", "text", 3)
    val hit = spark.sharedState.cacheManager.lookupCachedData(
      shingles.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(hit.isDefined, "shingle projection is not session-cached")
    val builder = hit.get.cachedRepresentation.cacheBuilder
    assert(cc.exists(_ eq builder),
      "containment does not read the memoized shingle projection")
  }

  test("memo self-heals after an external clearCache (stale frames rebuilt)") {
    // an external spark.catalog.clearCache() — test harnesses do it,
    // and a long-lived production session legitimately can — strips
    // every memoized artifact's cache entry. The memo must detect the
    // stale (now-unpersisted) frame and rebuild instead of handing it
    // out, or every consumer silently re-runs the corpus-wide pass.
    val before = rows(SparkEntry.queries("x_dedup_ngram")(spark, sfDir))
    spark.sharedState.cacheManager.clearCache()
    val after = SparkEntry.queries("x_dedup_ngram")(spark, sfDir)
    assert(after.storageLevel != StorageLevel.NONE,
      "memo returned a stale unpersisted frame after clearCache")
    assert(rows(after) == before, "self-healed rebuild changed the answer")
  }

  test("gopher signal frame: one kernel pass shared by all four consumers, invisibly") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val a = SparkEntry.queries("x_quality_by_lang")(spark, sfDir)
    val ca = cacheBuilders(a)
    assert(ca.nonEmpty,
      "x_quality_by_lang does not read a persisted shared signal frame")
    for (n <- Seq("x_filter_funnel", "x_length_vs_quality",
        "x_quality_agreement")) {
      val cb = cacheBuilders(SparkEntry.queries(n)(spark, sfDir))
      assert(cb.nonEmpty && cb.forall(c => ca.exists(_ eq c)),
        s"$n does not ride the shared gopher signal frame")
    }
    // invisible: the per-lang audit equals the direct un-memoized
    // composition (same kernel, same thresholds, no cache involved)
    val nn = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
    val g = TextAnalysis.gopherRules(nn, "doc_id", "text",
      minTokens = 50, maxTokens = 100000,
      minMeanTokLen = 4.0, maxMeanTokLen = 10.0,
      maxTop2Frac = 0.08, maxDupLineFrac = 0.2, minStopHits = 2)
    val direct = nn.select(col("doc_id"), col("lang")).join(g, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum(lit(1L) - col("r_token_count")).as("n_fail_tokens"),
        sum(lit(1L) - col("r_word_len")).as("n_fail_wordlen"),
        sum(lit(1L) - col("r_repetition")).as("n_fail_rep"),
        sum(lit(1L) - col("r_boilerplate")).as("n_fail_boiler"),
        sum(lit(1L) - col("r_stopwords")).as("n_fail_stop"))
    assert(rows(a) == rows(direct))
  }

  test("lm model: trained and collected once, shared by score and bands, invisibly") {
    import graft.operators.NgramLm
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = SparkEntry.queries("x_lm_score")(spark, sfDir)
    val sizeAfterFirst = NgramLm.modelCacheSize
    val b = SparkEntry.queries("x_quality_bands")(spark, sfDir)
    // the score kernel collects one model per distinct canonicalized
    // model plan — a second DISTINCT training would add a cache entry
    assert(NgramLm.modelCacheSize == sizeAfterFirst,
      "x_quality_bands trained/collected a second lm model")
    // the shared model frame is session-cached under the trainModel
    // plan (CacheManager canonical-plan lookup, the shingle precedent)
    val direct = NgramLm.trainModel(docs, "lang", "text", n = 3, vocab = 500)
    val hit = spark.sharedState.cacheManager.lookupCachedData(
      direct.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(hit.isDefined, "lm model is not session-cached")
    // invisible: entry rows equal the direct un-memoized composition
    assert(rows(a) ==
      rows(NgramLm.score(docs, "doc_id", "lang", "text", direct, n = 3)))
    assert(rows(b) ==
      rows(NgramLm.qualityBuckets(docs, "doc_id", "lang", "text", direct,
        n = 3)))
  }

  test("x_pair_pagerank matches the direct composition off un-memoized pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val directPairs = Dedup.ngramJaccardNearDups(
      docs, "doc_id", "text", shingleSize = 3, threshold = 0.5)
    val direct = Clusters.pageRankInt(directPairs)
      .withColumnRenamed("id", "doc_id")
    assert(rows(SparkEntry.queries("x_pair_pagerank")(spark, sfDir))
      == rows(direct))
  }

  test("x_label_propagation matches the direct vote off an un-memoized exact graph") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val direct = graft.operators.Similarity.propagateLabels(
      graft.operators.Similarity.knnGraph(emb, "vec_id", "embedding", k = 5),
      emb.select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("label")))
    assert(rows(SparkEntry.queries("x_label_propagation")(spark, sfDir))
      == rows(direct))
  }

  test("annotated-lineitem entries share one persisted frame and match the direct rules") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("errors",
        graft.rules.RuleCompiler.compileRow(Queries.lineitemRules))
    val directFanout = li.filter(size(col("errors")) > 0)
      .select(col("l_orderkey"), col("l_linenumber"), explode(col("errors")).as("e"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("e.FieldName").as("field_name"), col("e.ErrorType").as("error_type"))
    assert(rows(SparkEntry.queries("p9_error_fanout")(spark, sfDir))
      == rows(directFanout))
    // sharing is real: two consumers see the same cached plan fragment
    val a = SparkEntry.queries("p9_error_fanout")(spark, sfDir)
    val cached = a.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cached.nonEmpty, "p9 does not read the shared annotated frame")
  }

  test("x_split_leakage: cluster-safe scheme leaks zero pairs; audit covers the full graph") {
    val r = SparkEntry.queries("x_split_leakage")(spark, sfDir).collect()
    assert(r.length == 1)
    val (nPairs, leakedPlain, leakedSafe) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    // the audit sees every pair of the shared graph
    assert(nPairs == SparkEntry.queries("x_dedup_ngram")(spark, sfDir).count())
    // the cluster-safe guarantee: zero cross-split pairs, BY CONSTRUCTION
    assert(leakedSafe == 0L)
    assert(leakedPlain >= 0L && leakedPlain <= nPairs)
  }
}
