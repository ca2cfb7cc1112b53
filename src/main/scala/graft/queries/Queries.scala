package graft.queries

import graft.config.{FieldMapping, ValidationRule}
import graft.operators.Parallelism.widen
import graft.operators.{Clusters, Dedup, Drift, HeavyHitters, Multimodal, NgramLm, QualityClassifier, Similarity, TemporalJoins, TextAnalysis}
import graft.rules.RuleCompiler
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The query catalog behind SparkEntry: one entry per operator from
  * SURVEY.md §2 plus the training-data-pipeline extensions. Each query
  * has a DuckDB oracle in [[oracleSql]] unless the operator is not
  * SQL-expressible (MinHash/SimHash/LSH — verified by ScalaTest
  * goldens instead).
  *
  * Oracle-compare discipline: all output column names are lower_snake
  * and aliased identically on both sides; aggregate sums go through
  * DECIMAL(18,2)/(18,4) so Spark's and DuckDB's summation order cannot
  * produce differing low-order float bits; per-row double arithmetic is
  * bit-deterministic and safe.
  */
object Queries {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Shared 4/5-corpus / 1/5-batch MinHash index build + probe used by
    * x_dedup_incremental and x_incremental_ingest — one place for the
    * split, the tmp index path (dataset-dir-scoped: a fixed path would
    * race concurrent runs at different SFs), and the LSH parameters.
    * Returns (batch frame, near-dup pairs at jaccard >= 0.5).
    */
  private def indexAndProbe(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft_minhash_idx_" +
      d.replaceAll("[^A-Za-z0-9]", "_")
    Dedup.writeMinHashIndex(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text",
      idxPath, mode = "overwrite")
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    (batch, Dedup.minHashProbeIndex(s, batch, "doc_id", "text", idxPath, threshold = 0.5))
  }

  /** Shared exact-ngram near-dup PAIR GRAPH, computed once per dataset
    * dir per session and reused by the whole family —
    * `x_dedup_ngram` (the raw pairs), `x_dedup_clusters` (connected
    * components over them), and `x_cluster_safe_split` (split labels
    * hashed on the component root). This is the production shape at
    * 100 TB: the candidate-generation + verification job is the
    * expensive corpus-wide pass, and every downstream consumer
    * (clustering, leakage-safe splitting, survivor selection) derives
    * from ONE persisted pair-graph artifact rather than re-shingling
    * the corpus per query — the same sharing the r10 verdict asked for
    * (next-round #4). Memory bound: the pairs frame is ∝ the near-dup
    * pair count (structurally ≪ corpus; 25 rows at sf0.01, 256 at
    * sf0.1), persisted MEMORY_AND_DISK so a pathological pair set
    * spills instead of evicting executor memory; components are
    * pair-members only. The cache holds at most [[pairGraphCacheMax]]
    * dataset dirs and evicts (unpersisting) beyond that; entries from
    * a replaced SparkSession are recomputed (`eq` check) since cached
    * plans cannot outlive their session.
    */
  private val dirMemoMax = 4

  /** Per-(dataset dir, session) shared-artifact memo used by the pair
    * graph and the passage spans. Entries from a replaced SparkSession
    * are rebuilt (`eq` check — cached plans cannot outlive their
    * session) and their persisted frames released best-effort; the map
    * is bounded at [[dirMemoMax]] dirs (a session sees at most the
    * three testdata SFs).
    */
  /** Cumulative wall-clock spent BUILDING shared per-dir artifacts
    * this session (pair graph + components, shingle projection,
    * passage spans, fuzzy pairs) — every [[memoPerDir]] build is
    * timed into this accumulator, and each build forces its frame's
    * materialization so the cost lands here rather than inside the
    * first consuming query's discarded warmup rep. Bench reads
    * [[artifactBuildSeconds]] and reports it as a first-class
    * `artifact_sec` summary field: the one-time cost per corpus
    * refresh that the steady-state per-query medians ride on.
    */
  private val artifactNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  def artifactBuildSeconds: Double = artifactNanos.get / 1e9

  /** Per-artifact breakdown of [[artifactBuildSeconds]] (label →
    * cumulative seconds, outermost builds only). Bench emits it as
    * `artifact_breakdown` in the medians side file.
    */
  private val artifactNanosByLabel =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def artifactBuildBreakdown: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    artifactNanosByLabel.forEach((k, v) => b += (k -> v.toDouble / 1e9))
    b.result()
  }

  // builds nest (the pair graph's build consumes the docShingles
  // artifact): only the OUTERMOST build on a thread adds its elapsed
  // time, so nested artifact builds aren't double-counted
  private val buildDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  private def memoPerDir[T <: AnyRef](
      cache: java.util.concurrent.ConcurrentHashMap[String, (SparkSession, T)],
      s: SparkSession, d: String, label: String = "other",
      // an external spark.catalog.clearCache() (or a cascading
      // unpersist) silently strips a memoized frame's cache entry;
      // without this re-check the memo would keep handing out the
      // now-unpersisted frame and every consumer would re-run the
      // corpus-wide build it exists to share. Sites pass a
      // storageLevel probe; stale entries are released and rebuilt.
      stillValid: T => Boolean = (_: T) => true)(
      build: => T)(release: T => Unit): T = {
    val hit = cache.get(d)
    if (hit != null && (hit._1 eq s) && stillValid(hit._2)) hit._2
    else cache.synchronized {
      val again = cache.get(d)
      if (again != null && (again._1 eq s) && stillValid(again._2)) again._2
      else {
        if (again != null || cache.size() >= dirMemoMax) {
          val stale =
            if (again != null) java.util.Collections.singletonMap(d, again)
            else cache
          stale.forEach { (k, v) =>
            scala.util.Try(release(v._2))
            cache.remove(k)
          }
        }
        val depth: Int = buildDepth.get
        buildDepth.set(depth + 1)
        val t0 = System.nanoTime()
        val built =
          try build
          finally {
            buildDepth.set(depth)
            if (depth == 0) {
              val dt = System.nanoTime() - t0
              artifactNanos.addAndGet(dt)
              artifactNanosByLabel.merge(label, dt,
                (a, b) => java.lang.Long.valueOf(a + b))
            }
          }
        cache.put(d, (s, built))
        built
      }
    }
  }

  /** 30-minute-gap sessionization shared by `x_sessionize` and
    * `x_session_stats` — gap compared at MICROSECOND precision (ts_utc
    * is the reader's µs contract column regardless of the footer's
    * physical type, so `unix_micros` is exact, no rounding).
    */
  private def sessionFrame(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_utc"))
    val tsUs = unix_micros(col("ts_utc"))
    val gap = tsUs - lag(tsUs, 1).over(byUser)
    val isNew = when(gap.isNull || gap > lit(30L * 60 * 1000000L), 1L)
      .otherwise(0L)
    events(s, d)
      .withColumn("session_seq",
        sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Shared multi-pass fuzzy PAIR frame (substitution fixture) reused
    * by `x_fuzzy_multipass` and `x_golden_records` — the same
    * one-expensive-pass-many-consumers shape as the ngram pair graph.
    */
  private val fuzzyPairCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()

  // private[graft]: graft.tools.AsymProbe measures this fixture's
  // block-occupancy growth across scale decades on the same frame the
  // artifact builds from
  private[graft] def fuzzyTitles(s: SparkSession, d: String): DataFrame = {
    val titles = t(s, d, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 30).as("title"))
    val typos = titles.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(substring(col("title"), 1, 2), lit("Z"),
          expr("substring(title, 4)")).as("title"))
    titles.union(typos)
  }

  private def fuzzyMultipassPairs(s: SparkSession, d: String): DataFrame =
    memoPerDir(fuzzyPairCache, s, d, "fuzzy_pairs",
      stillValid = (p: DataFrame) => p.storageLevel != StorageLevel.NONE) {
      val all = fuzzyTitles(s, d)
      // PASS PROVENANCE (r11 verdict #7): each pass tags its pairs, the
      // shared frame carries per-pass membership flags — so the single-
      // pass entry (x_fuzzy_match) FILTERS this artifact instead of
      // recomputing the blocked join, and single-vs-multipass recall is
      // directly comparable on the same fixture.
      val prefixPass = Dedup.editDistancePairs(all, "doc_id", "title",
        blockKey = substring(col("title"), 1, 6), maxDist = 2)
        .withColumn("__pass", lit(1))
      // positive-index suffix (greatest(1, len-5)) — negative substring
      // starts disagree across engines for strings shorter than the key
      val suffixPass = Dedup.editDistancePairs(all, "doc_id", "title",
        blockKey = expr("substring(title, greatest(1, length(title) - 5), 6)"),
        maxDist = 2)
        .withColumn("__pass", lit(2))
      val pairs = prefixPass.union(suffixPass)
        .groupBy(col("id_a"), col("id_b"), col("dist"))
        .agg(
          max(when(col("__pass") === 1, 1L).otherwise(0L)).as("in_prefix"),
          max(when(col("__pass") === 2, 1L).otherwise(0L)).as("in_suffix"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      pairs.count() // materialize inside the timed artifact build
      pairs
    } { _.unpersist(blocking = false) }

  private val pairGraphCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, (DataFrame, DataFrame))]()

  /** Shared corpus-wide `(doc_id → shingle set)` projection — the ONE
    * expensive text pass both exact n-gram measures derive from: the
    * Jaccard pair graph ([[ngramPairGraph]]) and `x_dedup_containment`
    * each consume this persisted frame instead of re-shingling the
    * corpus (the r11 verdict's #4: the containment entry's corpus
    * projection duplicated the pair graph's work).
    */
  private val shingleCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()

  private def docShingles(s: SparkSession, d: String): DataFrame =
    memoPerDir(shingleCache, s, d, "doc_shingles",
      stillValid = (p: DataFrame) => p.storageLevel != StorageLevel.NONE) {
      val sh = Dedup.shingleProjection(t(s, d, "documents"), "doc_id", "text", 3)
        .persist(StorageLevel.MEMORY_AND_DISK)
      sh.count() // materialize inside the timed artifact build
      sh
    } { _.unpersist(blocking = false) }

  /** Shared RULE-ANNOTATED lineitem frame: ONE compiled-rule pass per
    * dir per session feeds the P8/P9/S6 parity entries — the
    * ValidationPipeline's own one-annotated-frame discipline
    * (ValidationPipeline.scala caches exactly this shape for the
    * valid/invalid split), applied across catalog entries instead of
    * re-running the regex/date/range rule expressions per entry. The
    * streaming replays keep their own per-replay annotation (a batch
    * cache cannot feed a stream). Results are unchanged: the frame IS
    * each entry's previous first stage.
    */
  private val annotatedLineitemCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame)]()

  private def annotatedLineitem(s: SparkSession, d: String): DataFrame =
    memoPerDir(annotatedLineitemCache, s, d, "annotated_lineitem",
      stillValid = (f: DataFrame) => f.storageLevel != StorageLevel.NONE) {
      // cache ONLY what the three consumers (P8 counts, P9 fanout, S6
      // report) read: the row key + the computed errors array. Caching
      // all 11 lineitem columns spilled the 60M-row sfx100 build out of
      // the storage pool (19.3× for 10× data in the r15 probe); the
      // pruned frame is ~6× narrower and scales linearly. Rule inputs
      // (quantity/date/regex fields) are consumed by compileRow before
      // the projection, so results are unchanged.
      val f = t(s, d, "lineitem")
        .withColumn("errors", RuleCompiler.compileRow(lineitemRules))
        .select(col("l_orderkey"), col("l_linenumber"), col("errors"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      f.count() // materialize inside the timed artifact build
      f
    } { _.unpersist(blocking = false) }

  private def ngramPairGraph(s: SparkSession, d: String): (DataFrame, DataFrame) =
    memoPerDir(pairGraphCache, s, d, "ngram_pair_graph",
      stillValid = (g: (DataFrame, DataFrame)) =>
        g._1.storageLevel != StorageLevel.NONE) {
      val pairs = Dedup.ngramJaccardFromShingles(
        docShingles(s, d), threshold = 0.5, maxPostings = 1000,
        metric = "graft_ngram_postings_doc_id_text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // connectedComponents is eager (per-round convergence checks) —
      // its first action also materializes the persisted pairs, so the
      // pair expansion runs exactly once per dir per session (and the
      // shingle pass exactly once via the docShingles artifact)
      (pairs, Clusters.connectedComponents(pairs))
    } { case (pairs, _) => pairs.unpersist(blocking = false) }

  /** Shared duplicate-passage SPAN frame for the exact-substring
    * family: `x_dup_passages` reports it, `x_cut_passages` rewrites the
    * corpus from it — detection (the corpus-wide stride-1 window
    * shuffle) runs once per dir per session, the production shape when
    * a pipeline both audits and cuts. Bounded: spans ∝ duplicated
    * passages (structurally ≪ corpus; 47 rows at sf0.01).
    */
  private val passageSpanCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()

  private def passageSpans(s: SparkSession, d: String): DataFrame =
    memoPerDir(passageSpanCache, s, d, "passage_spans",
      stillValid = (p: DataFrame) => p.storageLevel != StorageLevel.NONE) {
      val spans = Dedup.duplicatePassageSpans(
        t(s, d, "documents"), "doc_id", "text", n = 8)
        .persist(StorageLevel.MEMORY_AND_DISK)
      spans.count() // materialize inside the timed artifact build
      spans
    } { _.unpersist(blocking = false) }

  /** Query cap for every recall audit's exact brute-force leg
    * ([[graft.operators.Similarity.exactTopKSample]]): at or above the
    * corpus size at every test SF (2000 embeddings at sf0.1), so
    * current results are bit-identical to the uncapped form — and at
    * scale the SAME code path bounds each audit at 4096 hash-picked
    * queries × |corpus| scored pairs, the declared sampled-slice
    * design the audits previously only claimed in prose.
    */
  private val exactAuditMaxQueries = 4096

  /** Corpus-side cap for the audit entries that carry a brute-force
    * leg over the WHOLE corpus (x_ann_pareto, x_mrl_recall — each
    * rung scans every vector per query, the killer class at 100 TB
    * even at 5 queries). The whole audit — every rung AND the exact
    * ground-truth leg — runs on the [[auditCorpusSlice]] of at most
    * this many vectors, so recall-on-slice is internally consistent
    * and the audit cost is bounded by cap × queries × dims per rung
    * instead of growing with the corpus. At every test SF the cap is
    * at or above the corpus size (2000 embeddings at sf0.1), so the
    * slice is the identity and results are bit-identical to the
    * uncapped form — the exactAuditMaxQueries convention applied to
    * the corpus axis.
    */
  private val exactAuditMaxCorpus = 4096

  /** Memoized embeddings row count per dataset dir — the
    * audit-cap gate (`x_ann_pareto`) consults it every rep, and
    * `DataFrame.count()` launches a real job (file listing + footer
    * reads) whose cost grows with file count at scale. A plain Long,
    * so unlike the frame memos it safely outlives any SparkSession.
    */
  private val embCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def embeddingsCount(s: SparkSession, d: String): Long =
    embCountCache.computeIfAbsent(d, _ => t(s, d, "embeddings").count())

  /** Deterministic hash-ordered corpus slice (ascending
    * (xxhash64(id), id) — the repo's sampling idiom: reproducible
    * across runs and engines, unbiased w.r.t. any corpus ordering),
    * capped at [[exactAuditMaxCorpus]] rows. One bounded TakeOrdered
    * over the corpus; identity at every test SF.
    */
  private def auditCorpusSlice(corpus: DataFrame, idCol: String): DataFrame =
    corpus.orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(exactAuditMaxCorpus)

  /** Shared EXACT kNN graph (the ANN family's recall oracle) — the
    * deliberate ground-truth pass runs once per dir per session,
    * consumed by `x_knn_graph` (the oracle entry itself),
    * `x_knn_graph_recall` / `x_recall_by_label` (the production-graph
    * audits) and `x_label_propagation`. Built through
    * [[graft.operators.Similarity.exactTopKSample]] with the
    * [[exactAuditMaxQueries]] cap: identical to the full n² graph at
    * every test SF, a bounded sampled slice beyond it. ≤ min(|corpus|,
    * cap)·k rows, persisted MEMORY_AND_DISK.
    */
  private val exactKnnCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()

  private def exactKnnGraph(s: SparkSession, d: String): DataFrame =
    memoPerDir(exactKnnCache, s, d, "exact_knn_graph",
      stillValid = (p: DataFrame) => p.storageLevel != StorageLevel.NONE) {
      val emb = t(s, d, "embeddings")
      val g = graft.operators.Similarity.exactTopKSample(
        emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 5, maxQueries = exactAuditMaxQueries,
        metric = "cosine", excludeSelf = true,
        // query-DENSE ground-truth pass (corpus as queries): widen the
        // corpus side so the n² kernel never rides one scan task (r19)
        widenCorpus = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      g.count() // materialize inside the timed artifact build
      g
    } { _.unpersist(blocking = false) }

  /** Shared per-corpus trigram LM model (the CCNet-style quality
    * prior) — the corpus-wide n-gram count aggregation in
    * [[NgramLm.trainModel]] runs once per dir per session, consumed by
    * both `x_lm_score` and `x_quality_bands` (the r12 verdict's
    * recomputed-artifact item). ≤ |langs|·500 rows, persisted; both
    * consumers also hand `NgramLm.score` the SAME canonicalized model
    * plan, so its driver-side model collect happens once too.
    */
  private val lmModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()

  private def lmModel(s: SparkSession, d: String): DataFrame =
    memoPerDir(lmModelCache, s, d, "lm_model",
      stillValid = (p: DataFrame) => p.storageLevel != StorageLevel.NONE) {
      val m = NgramLm.trainModel(
          t(s, d, "documents"), "lang", "text", n = 3, vocab = 500)
        .persist(StorageLevel.MEMORY_AND_DISK)
      m.count() // materialize inside the timed artifact build
      m
    } { _.unpersist(blocking = false) }

  /** Shared Gopher-rule signal frame over the PLAIN corpus text (the
    * standard thresholds every audit entry uses) — the five-signal
    * kernel pass runs once per dir per session, consumed by
    * `x_quality_by_lang`, `x_filter_funnel`, `x_length_vs_quality` and
    * `x_quality_agreement` (the r12 verdict's recomputed-artifact
    * item). `x_gopher_rules` itself stays standalone: its input is the
    * boilerplate-INJECTED text2 column, a different frame by design.
    * One row per non-null-text doc (corpus-bounded, ~7 int columns).
    */
  private val gopherCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()

  private def gopherSignals(s: SparkSession, d: String): DataFrame =
    memoPerDir(gopherCache, s, d, "gopher_signals",
      stillValid = (p: DataFrame) => p.storageLevel != StorageLevel.NONE) {
      val g = TextAnalysis.gopherRules(
          t(s, d, "documents").filter(col("text").isNotNull),
          "doc_id", "text",
          minTokens = 50, maxTokens = 100000,
          minMeanTokLen = 4.0, maxMeanTokLen = 10.0,
          maxTop2Frac = 0.08, maxDupLineFrac = 0.2, minStopHits = 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      g.count() // materialize inside the timed artifact build
      g
    } { _.unpersist(blocking = false) }

  /** events.parquet currently carries a MICROSECOND timestamp
    * (isAdjustedToUTC=false), which Spark reads natively; with the
    * session timezone pinned to UTC, `unix_micros(ts_utc)` equals the
    * stored value — the same number DuckDB's `epoch_us(ts)` yields, so
    * the oracle compare is representation-proof. Earlier testdata
    * generations shipped timestamp[ns], which Spark's reader rejects
    * and which needed a LongType read + `div 1000`; the precision has
    * flipped once already (r10 postmortem), so [[eventsTsIsNative]]
    * sniffs the footer's logical type driver-side (one file, cached
    * per dataset dir) and [[events]] branches. Either way the frame
    * exposes the same contract: a µs-precision `ts_utc` column.
    * EventsContractSpec pins the current environment's shape.
    */
  private def eventsSchemaWith(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val tsNativeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** True when the footer's `ts` logical type is a Spark-readable
    * timestamp (µs/ms); false → legacy int64-nanos read. Inference on a
    * nanosecond footer throws [PARQUET_TYPE_ILLEGAL], which is itself
    * the legacy signal — hence the catch. Footer-only read: cheap, and
    * cached so bench reps don't repeat it.
    */
  private def eventsTsIsNative(spark: SparkSession, sfDir: String): Boolean =
    tsNativeCache.computeIfAbsent(sfDir, _ =>
      try spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType match {
        case TimestampType | TimestampNTZType => true
        case _ => false
      } catch { case scala.util.control.NonFatal(_) => false })

  private def eventsSchema(spark: SparkSession, sfDir: String): StructType =
    eventsSchemaWith(
      if (eventsTsIsNative(spark, sfDir)) TimestampType else LongType)

  /** Normalizes either physical read to the µs `ts_utc` contract. */
  private def withTsUtc(df: DataFrame, native: Boolean): DataFrame =
    if (native) df.withColumn("ts_utc", col("ts"))
    else df.withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))

  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    val native = eventsTsIsNative(spark, sfDir)
    withTsUtc(
      spark.read.schema(eventsSchemaWith(if (native) TimestampType else LongType))
        .parquet(s"$sfDir/events.parquet"),
      native)
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** BM25 lexical top-50 → cosine rerank → top-10 with ranks: the
    * hybrid-retrieval composition shared by `x_hybrid_search` (the
    * result) and `x_rerank_shift` (the what-did-reranking-change
    * audit). Rank assignment is the ≤10-row sorted-array idiom — no
    * unpartitioned window.
    */
  private def hybridTop10(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val lexical = TextAnalysis.bm25TopK(
      t(s, d, "documents").filter(col("doc_id") =!= 0), "doc_id", "text",
      queryTerms = Seq("spark", "join", "window"), k = 50, logIdf = false)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val reranked = emb
      .join(broadcast(lexical.select(col("doc_id"))), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"), Similarity.cosine(col("embedding"), col("qv")).as("c"))
      .filter(!isnan(col("c")))
      .orderBy(col("c").desc, col("doc_id").asc)
      .limit(10)
    reranked
      .agg(sort_array(collect_list(
        struct((-col("c")).as("nc"), col("doc_id").as("doc_id")))).as("xs"))
      .select(posexplode(col("xs")))
      .select(col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Shared IVF-PQ index (m=8, ncode=256, nlist=64) for the
    * product-quantization family — the build-once/serve-many split:
    * `x_ann_pq` and `x_pq_recall` serve the exhaustive flat scan off
    * it, `x_ann_ivf_pq` the cell-routed probe. The codebook build, the
    * integer-L2 encode (PQ's inherent O(n·m·ncode) cost) and the cell
    * assignment run once per dir per session; only the (id, codes,
    * cell) frame is data-proportional, persisted.
    */
  private val pqIndexCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, graft.operators.Pq.PqIndex)]()

  private def pqIndex(s: SparkSession, d: String): graft.operators.Pq.PqIndex =
    memoPerDir(pqIndexCache, s, d, "pq_index",
      stillValid = (i: graft.operators.Pq.PqIndex) =>
        i.encoded.storageLevel != StorageLevel.NONE) {
      val idx = graft.operators.Pq.buildIndex(t(s, d, "embeddings"),
        "vec_id", "embedding", m = 8, ncode = 256, nlist = 64)
      val persisted = idx.copy(
        encoded = idx.encoded.persist(StorageLevel.MEMORY_AND_DISK))
      persisted.encoded.count() // materialize inside the timed build
      persisted
    } { _.encoded.unpersist(blocking = false) }

  /** Shared flat PQ-ADC top-10 frame: `x_ann_pq` reports it,
    * `x_pq_recall` audits the SAME result against the exact float
    * top-10. Bounded: |queries|·k rows persisted; rides [[pqIndex]].
    */
  private val pqTopCache = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()

  private def pqTop10(s: SparkSession, d: String): DataFrame =
    memoPerDir(pqTopCache, s, d, "pq_top10",
      stillValid = (f: DataFrame) => f.storageLevel != StorageLevel.NONE) {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val f = graft.operators.Pq.adcTopK(pqIndex(s, d),
          queries, "qid", "qv", k = 10)
        .persist(StorageLevel.MEMORY_AND_DISK)
      f.count() // materialize inside the timed artifact build
      f
    } { _.unpersist(blocking = false) }

  // --- the lineitem validation-rule set used by several queries --------
  // (range / date_range / not_null over typed parquet columns — the same
  // compiler the XML pipeline uses, pointed at the testdata tables)
  private[queries] val lineitemRules: Seq[FieldMapping] = Seq(
    FieldMapping("l_quantity", "quantity", "double", required = true,
      Seq(ValidationRule("range", Map("min" -> "5", "max" -> "45")))),
    FieldMapping("l_discount", "discount", "double", required = true,
      Seq(ValidationRule("range", Map("min" -> "0", "max" -> "0.05")))),
    FieldMapping("l_shipdate", "ship_date", "datetime", required = true,
      Seq(ValidationRule("date_range",
        Map("min" -> "1995-06-01", "max" -> "2000-12-31")))),
    FieldMapping("l_returnflag", "return_flag", "varchar(1)", required = true,
      Seq(ValidationRule("not_null", Map.empty)))
  )

  /** Memory-sink table names must be unique per streaming query within
    * a session; bench reps rerun catalog entries, so each run takes a
    * fresh suffix.
    */
  private val streamRun = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The file stream source watches a DIRECTORY (the landing-dir
    * contract); testdata ships flat single files, so expose lineitem
    * through a dataset-scoped scratch dir via symlink. Shared by every
    * streaming catalog entry.
    */
  private def tableStreamDir(d: String, table: String): String = {
    val streamDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_${table}_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve(s"$table.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(d, s"$table.parquet").toAbsolutePath)
    streamDir.toString
  }

  private def lineitemStreamDir(d: String): String = tableStreamDir(d, "lineitem")

  /** Staged FOUR-FILE stream dir for the late-data replay
    * (`x_stream_late_drops`): purchases split into week files f1..f4
    * (by day offset from the corpus min), with three deterministic
    * plants —
    *   f2 += copies of f1's last-36-hours rows (ids +2·10⁹): late on
    *         arrival but INSIDE the 48 h watermark delay → kept;
    *   f3 += copies of f1's first-3-days rows (ids +10⁹): beyond the
    *         delay by ≥ 9 days → dropped by the watermark;
    *   f4 += copies of f3's last-36-hours rows (same ids): on time but
    *         duplicate within the delay → dropped by dedup state.
    * Files get strictly ascending modification times AND ascending
    * names, so the file source's oldest-first order is deterministic
    * whichever tiebreak it uses, and `maxFilesPerTrigger=1` turns the
    * replay into four deterministic micro-batches — which makes the
    * watermark's advance (max event time of completed batches − delay)
    * and therefore every drop REPLAYABLE in the DuckDB oracle. Every
    * plant sits ≥ 12 h from its watermark boundary, so the engines'
    * strict-vs-inclusive boundary choice cannot matter.
    *
    * Built once per dir per session (timed artifact); two 1-row
    * aggregates (corpus min; per-prefix maxes) are the only driver
    * materializations.
    */
  private val lateStreamCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  private def lateStreamDir(s: SparkSession, d: String): String =
    memoPerDir(lateStreamCache, s, d, "late_stream") {
      val root = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        "graft_late_stream_" + d.replaceAll("[^A-Za-z0-9]", "_"))
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      java.nio.file.Files.createDirectories(root)
      val dayUs = 86400000000L
      val h36 = 36L * 3600000000L
      val p = events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_utc").as("ts"))
      val tsmin = p.agg(min(unix_micros(col("ts")))).head().getLong(0)
      val b = p.withColumn("dayoff",
        expr(s"(unix_micros(ts) - ${tsmin}L) div ${dayUs}L"))
      val maxes = b.agg(
        max(when(col("dayoff") < 7, unix_micros(col("ts")))).as("m1"),
        max(when(col("dayoff") < 21, unix_micros(col("ts")))).as("m123")).head()
      val (m1, m123) = (maxes.getLong(0), maxes.getLong(1))
      def part(lo: Int, hi: Int) =
        b.filter(col("dayoff") >= lo && col("dayoff") < hi)
          .select(col("event_id"), col("ts"))
      val plantsKept = part(0, 7).filter(unix_micros(col("ts")) > m1 - h36)
        .select((col("event_id") + lit(2000000000L)).as("event_id"), col("ts"))
      val plantsLate = b.filter(col("dayoff") < 3)
        .select((col("event_id") + lit(1000000000L)).as("event_id"), col("ts"))
      val plantsDup = part(14, 21).filter(unix_micros(col("ts")) > m123 - h36)
      val files = Seq(
        "f1" -> part(0, 7),
        "f2" -> part(7, 14).unionAll(plantsKept),
        "f3" -> part(14, 21).unionAll(plantsLate),
        "f4" -> part(21, Int.MaxValue).unionAll(plantsDup))
      val baseMs = System.currentTimeMillis()
      files.zipWithIndex.foreach { case ((name, df), i) =>
        val tmp = root.resolve(s"__stage_$name")
        df.withColumn("src_file", lit(name))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val walk = java.nio.file.Files.list(tmp)
        val partFile =
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet"))
              .getOrElse(sys.error(s"no parquet part written under $tmp"))
          } finally walk.close()
        val dest = root.resolve(s"$name.parquet")
        java.nio.file.Files.move(partFile, dest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(baseMs + i * 2000L))
        deleteRecursively(tmp)
      }
      root.toString
    } { _ => () }

  /** Staged document increments for the streaming dedup-ingest fold
    * (`x_stream_dedup_index`): three single-file parquets holding the
    * docs with `doc_id % 4` = 1, 2, 3 (mod 0 seeds the base index), in
    * strictly ascending name + modtime order so `maxFilesPerTrigger=1`
    * replays them as three deterministic micro-batches — file k IS
    * batch k, so "seen before batch k" is exactly `doc_id % 4 < k`,
    * which the DuckDB oracle re-derives. Staging is a pure function of
    * the corpus (memoized artifact); the mutable index is per-RUN
    * state and lives with the entry, never here.
    */
  private val ingestStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  private def ingestStageDir(s: SparkSession, d: String): String =
    memoPerDir(ingestStageCache, s, d, "ingest_stage") {
      stageMod4Batches(
        t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id",
        "graft_ingest_stage_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    } { _ => () }

  private val annStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** The embeddings analog of [[ingestStageDir]]: vec_id%4 ∈ {1,2,3}
    * staged as three fixed single-file micro-batches (%4==0 seeds the
    * index in the entry).
    */
  private def annIngestStageDir(s: SparkSession, d: String): String =
    memoPerDir(annStageCache, s, d, "ann_ingest_stage") {
      stageMod4Batches(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")), "vec_id",
        "graft_ann_stage_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    } { _ => () }

  // --- staged SEED indexes for the ingest folds (r16 verdict #1b) ------
  // The three streaming-ingest entries each rebuilt their base-corpus
  // seed index (MinHash over doc_id%4==0, int8 IVF over vec_id%4==0)
  // INSIDE every timed rep — a pure function of the corpus paying
  // Spark-build cost per run. The seed is now a memoized per-dir
  // artifact (cost lands in artifact_sec, the corpus-refresh bucket);
  // each run FILE-COPIES the tree into its private work dir, because
  // the fold's appends mutate the index — stage-and-copy, never share.
  // Staged dirs are per-JVM (pid-keyed: r15 burned rounds on two JVMs
  // sharing a dataset-keyed tmpdir) and reaped by a shutdown hook.

  private def registerTmpCleanup(root: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }))

  /** Recursive local-fs copy of a staged index tree into a run's work
    * dir. The copy is the run's to mutate; the stage stays pristine.
    */
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(target)
      else {
        Option(target.getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.copy(p, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  private def stagedTmpRoot(prefix: String, d: String): java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${ProcessHandle.current().pid()}_" +
        d.replaceAll("[^A-Za-z0-9]", "_"))

  private val seedDedupIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** Seed MinHash index over the base corpus (doc_id%4==0, bands=32 —
    * the x_stream_dedup_index / x_stream_ingest_within seed), staged
    * once per dataset dir.
    */
  private def seedDedupIndexDir(s: SparkSession, d: String): String =
    memoPerDir(seedDedupIdxCache, s, d, "seed_dedup_index") {
      val root = stagedTmpRoot("graft_seed_dedup_idx", d)
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      Dedup.writeMinHashIndex(
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(pmod(col("doc_id"), lit(4)) === 0),
        "doc_id", "text", root.toString, bands = 32, mode = "overwrite")
      registerTmpCleanup(root)
      root.toString
    } { _ => () }

  private val seedAnnIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** Seed int8 IVF index over the base embeddings (vec_id%4==0,
    * nlist=64 — the x_stream_ann_ingest seed), staged once per dir.
    */
  private def seedAnnIndexDir(s: SparkSession, d: String): String =
    memoPerDir(seedAnnIdxCache, s, d, "seed_ann_index") {
      val root = stagedTmpRoot("graft_seed_ann_idx", d)
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      graft.operators.Ivf.writeInt8Index(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .filter(pmod(col("vec_id"), lit(4)) === 0),
        "vec_id", "embedding", root.toString, nlist = 64, mode = "overwrite")
      registerTmpCleanup(root)
      root.toString
    } { _ => () }

  private val seedPqIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** Seed IVF-PQ index over the base embeddings (vec_id%4==0, m=8,
    * nlist=64, hash-sampled quantizers — the closed-form-oracle
    * choice: the pruned fold re-derives them from the seed subset),
    * staged once per dir — the x_stream_pq_ingest seed.
    */
  private def seedPqIndexDir(s: SparkSession, d: String): String =
    memoPerDir(seedPqIdxCache, s, d, "seed_pq_index") {
      val root = stagedTmpRoot("graft_seed_pq_idx", d)
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      graft.operators.Pq.writeIndex(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .filter(pmod(col("vec_id"), lit(4)) === 0),
        "vec_id", "embedding", root.toString, mode = "overwrite")
      registerTmpCleanup(root)
      root.toString
    } { _ => () }

  private val servedIvfIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** Full-corpus persisted int8 IVF index — the SERVING artifact
    * x_ann_index_probe reads. Probes never mutate it, so the entry
    * probes the stage directly (no copy); the build-once-probe-many
    * split is exactly the production cost model, with the build in
    * artifact_sec instead of every timed rep.
    */
  private def servedIvfIndexDir(s: SparkSession, d: String): String =
    memoPerDir(servedIvfIdxCache, s, d, "served_ivf_index") {
      val root = stagedTmpRoot("graft_served_ivf_idx", d)
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      graft.operators.Ivf.writeInt8Index(
        t(s, d, "embeddings"), "vec_id", "embedding",
        root.toString, nlist = 64, mode = "overwrite")
      registerTmpCleanup(root)
      root.toString
    } { _ => () }

  private val fragmentedIvfIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** A deliberately FRAGMENTED full-corpus int8 IVF index — the state
    * a continuously-ingesting deployment accumulates: seeded with the
    * negative-xxhash half (which provably owns the full corpus's
    * centroid hash-minima — the x_ann_index_grow construction, so
    * grown == fresh-full), then grown by three appends. Each append
    * adds one file wave per cell directory; `x_index_compact` repacks
    * a copy and probes it. Staged once per dir — fragmentation is a
    * pure function of the corpus + append count.
    */
  private def fragmentedIvfIndexDir(s: SparkSession, d: String): String =
    memoPerDir(fragmentedIvfIdxCache, s, d, "fragmented_ivf_index") {
      val root = stagedTmpRoot("graft_frag_ivf_idx", d)
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val h = xxhash64(col("vec_id"))
      graft.operators.Ivf.writeInt8Index(emb.filter(h < 0),
        "vec_id", "embedding", root.toString, nlist = 64, mode = "overwrite")
      (0 until 3).foreach { k =>
        graft.operators.Ivf.writeInt8Index(
          emb.filter(h >= 0 && pmod(col("vec_id"), lit(3)) === k),
          "vec_id", "embedding", root.toString, nlist = 64, mode = "append")
      }
      registerTmpCleanup(root)
      root.toString
    } { _ => () }

  /** Distribution-SHIFTED increment for the quantizer-refresh audit:
    * the corpus's vectors folded into the positive orthant (`abs` —
    * exact in float on any engine) under disjoint ids. The base
    * corpus is near-symmetric around 0, so the fold is a genuine
    * covariate shift: quantizers trained on the base route and encode
    * these vectors badly, which is precisely the decay the audit
    * measures.
    */
  private def driftedIncrement(emb: DataFrame): DataFrame =
    emb.select((col("vec_id") + 10000000L).as("vec_id"),
      transform(col("embedding"), x => abs(x)).as("embedding"))

  private val refreshIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** Lloyd rounds for the density-adaptive refresh leg — shared by the
    * staged `adaptive/` index build and the golden generator
    * (tools/gen_pq_adaptive_golden.py pins the same constant).
    */
  private[queries] val adaptiveRefineIters = 5

  /** The three persisted IVF-PQ indexes the refresh audits probe,
    * staged once per dir: `frozen/` = quantizers trained on the BASE
    * corpus with the drifted increment appended under them (the
    * append-mode contract — what a deployment accretes), `fresh/` =
    * hash-sampled quantizers retrained on the full union (what a
    * re-train/re-encode cycle buys WITHOUT density adaptation —
    * measured ≈ nothing, the r17 finding), `adaptive/` = integer-
    * Lloyd-refined quantizers trained on the union
    * (`Pq.writeIndex(refineIters = adaptiveRefineIters)`) — the
    * density-adaptive retrain `x_refresh_adaptive` measures. Pure
    * function of the corpus.
    */
  private def refreshAuditIndexDir(s: SparkSession, d: String): String =
    memoPerDir(refreshIdxCache, s, d, "refresh_audit_indexes") {
      val root = stagedTmpRoot("graft_refresh_idx", d)
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val inc = driftedIncrement(emb)
      val union = emb.unionByName(inc)
      val frozen = root.resolve("frozen").toString
      // the three index chains are INDEPENDENT (disjoint directories;
      // the frozen append depends only on the frozen build) — overlap
      // them so the adaptive build's 5 Lloyd passes back-fill the
      // other chains' write tails instead of queueing behind them
      // (guide §2.6). Every build is exact-integer and partitioning-
      // independent, so concurrency cannot change a single bit of any
      // index (the refineFlat determinism contract).
      graft.operators.Actions.runConcurrently(
        () => {
          graft.operators.Pq.writeIndex(emb, "vec_id", "embedding",
            frozen, mode = "overwrite")
          graft.operators.Pq.writeIndex(inc, "vec_id", "embedding",
            frozen, mode = "append")
        },
        () => graft.operators.Pq.writeIndex(union, "vec_id", "embedding",
          root.resolve("fresh").toString, mode = "overwrite"),
        () => graft.operators.Pq.writeIndex(union, "vec_id", "embedding",
          root.resolve("adaptive").toString, mode = "overwrite",
          refineIters = adaptiveRefineIters))
      registerTmpCleanup(root)
      root.toString
    } { _ => () }

  private val servedPqIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, String)]()

  /** Full-corpus persisted IVF-PQ index (rides the session-shared
    * [[pqIndex]] encode) — the serving artifact x_pq_index_probe
    * reads; probe-only, staged once per dir like [[servedIvfIndexDir]].
    */
  private def servedPqIndexDir(s: SparkSession, d: String): String =
    memoPerDir(servedPqIdxCache, s, d, "served_pq_index") {
      val root = stagedTmpRoot("graft_served_pq_idx", d)
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }
      graft.operators.Pq.writeIndex(pqIndex(s, d), root.toString,
        mode = "overwrite")
      registerTmpCleanup(root)
      root.toString
    } { _ => () }

  /** Write `frame` as three single-file micro-batches under a fresh
    * tmpdir: file k holds the idCol%4==k rows, modification times
    * strictly increasing so a maxFilesPerTrigger=1 file stream replays
    * them as three deterministic batches in order.
    */
  private def stageMod4Batches(
      frame: DataFrame, idCol: String, dirName: String): String = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), dirName)
    try deleteRecursively(root)
    catch { case scala.util.control.NonFatal(_) => () }
    java.nio.file.Files.createDirectories(root)
    val baseMs = System.currentTimeMillis()
    (1 to 3).foreach { k =>
      val tmp = root.resolve(s"__stage_f$k")
      frame.filter(pmod(col(idCol), lit(4)) === k)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val walk = java.nio.file.Files.list(tmp)
      val partFile =
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part written under $tmp"))
        } finally walk.close()
      val dest = root.resolve(s"f$k.parquet")
      java.nio.file.Files.move(partFile, dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(baseMs + k * 2000L))
      deleteRecursively(tmp)
    }
    root.toString
  }

  /** Previous run's scratch dir per streaming-ingest prefix — deleted
    * when the next run starts (the `lastSink` discipline applied to
    * disk): the returned frame reads the CURRENT run's novel/ parquet
    * lazily, so the current dir must outlive the entry call.
    */
  private val lastIngestWork =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** DuckDB n_err terms mirroring [[RuleCompiler]] over [[lineitemRules]],
    * shared by the three streaming oracles (error_rate / alerts /
    * counts) so a rule change edits ONE string. Each field's CASE
    * mirrors the compiler's required-null short-circuit: a null value
    * yields exactly ONE error (REQUIRED_FIELD_MISSING, no other rules
    * run — RuleCompiler.compileField), a non-null value runs the
    * field's rule; l_returnflag's not_null also fires on
    * whitespace-only, and required-vs-not_null never double-counts
    * (null short-circuits). Latent-null-safe: testdata currently has no
    * nulls in these columns, but the oracle must not classify a
    * null-quantity row as valid when the engine flags it.
    */
  private[queries] val lineitemFlagTermsSql: String =
    """(CASE WHEN l_quantity IS NULL THEN 1
      |         WHEN l_quantity < 5 OR l_quantity > 45 THEN 1 ELSE 0 END)
      |    + (CASE WHEN l_discount IS NULL THEN 1
      |         WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END)
      |    + (CASE WHEN l_shipdate IS NULL THEN 1
      |         WHEN l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31' THEN 1 ELSE 0 END)
      |    + (CASE WHEN l_returnflag IS NULL OR trim(l_returnflag) = '' THEN 1 ELSE 0 END)""".stripMargin

  /** The rule-annotated lineitem stream keyed for the custom-state
    * entries: (return_flag, is-invalid) pairs — shared by
    * x_stream_alerts and x_stream_counts. The empty-string coalesce
    * keeps a (hypothetical) null key groupable and oracle-joinable.
    */
  private def keyedInvalidStream(
      s: SparkSession, d: String): org.apache.spark.sql.Dataset[(String, Boolean)] = {
    import s.implicits._
    val schema = t(s, d, "lineitem").schema
    s.readStream.schema(schema).parquet(lineitemStreamDir(d))
      .withColumn("errors", RuleCompiler.compileRow(lineitemRules))
      .select(coalesce(col("l_returnflag"), lit("")).as("k"),
        (size(col("errors")) > 0).as("inv"))
      .as[(String, Boolean)]
  }

  /** Start a bounded AvailableNow replay into a uniquely-named memory
    * sink and block until it drains; returns the sink table name.
    * While the query runs, the session's shuffle partitions — which fix
    * every stateful operator's STATE STORE partition count at query
    * start — are temporarily sized to the replay volume: state here is
    * tiny (<= ~33k rows), and 32 state-store instances per operator per
    * micro-batch are pure provider/commit overhead at that volume
    * (measured ~2x on the replay entries). Production queries size this
    * to the cluster; the conf is restored before returning, so the
    * batch entries around this one are untouched.
    *
    * SEQUENTIAL-EXECUTION ASSUMPTION: mutating the shared session conf
    * is safe because both drivers that execute catalog entries (Verify
    * and Bench) run them strictly one at a time; a future concurrent
    * catalog runner would race batch entries onto this replay's tiny
    * partition count and must isolate the conf first
    * (`SparkSession.newSession()` shares the catalog but not runtime
    * conf — start the replay from a cloned session there).
    */
  /** Last sink table started per prefix: the NEXT replay of the same
    * entry drops it, so repeated execution (bench reps, long sessions)
    * holds at most one sink's rows per entry instead of accumulating
    * every rep's — measured: x_stream_dedup reps DEGRADED 3.6 → 12-23 s
    * across 9 consecutive replays before this, GC-thrashing on retained
    * sink rows + state maps. Safe under the same sequential-execution
    * assumption as the conf mutation above: by the time an entry
    * replays again, the previous run's returned frame has been fully
    * consumed by the (strictly sequential) Verify/Bench driver.
    */
  private val lastSink = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memory-backed checkpoint root when the platform offers one
    * (`/dev/shm`, the Linux tmpfs): every micro-batch commits offsets,
    * a commit log, the file-source log, and per-partition state
    * deltas through the checkpoint FS. Measured (r13, idle local
    * disk): moving this to tmpfs is timing-NEUTRAL — the replay
    * floor is the shuffle + state-machine work itself (e.g. the
    * alerts/counts replays key on `l_returnflag`, cardinality 3, so
    * their stateful stage parallelism is 3 whatever the partition
    * count), not checkpoint fsyncs. Retained anyway: it bounds disk
    * churn under a loaded disk, and the explicit per-replay subdir +
    * guaranteed post-stop delete beats relying on Spark's
    * temp-checkpoint cleanup. Production streaming checkpoints are
    * durable BY REQUIREMENT (exactly-once restart) — this applies
    * only to the harness's bounded replays, whose checkpoints are
    * dead the moment the replay drains.
    */
  /** Root is UNIQUE PER JVM (pid + JVM start nanos): the counter-based
    * replay subdirs restart from 0 in every process, so a shared root
    * could hand a fresh replay a leftover checkpoint from a crashed or
    * concurrent JVM (kill -9 skips the post-stop delete; bench and sbt
    * test can overlap). A resumed AvailableNow checkpoint has its
    * offsets already committed — the replay would drain zero rows and
    * the memory sink would be silently empty. Per-JVM roots make that
    * impossible; a shutdown hook (plus the delete-before-start guard in
    * replayToMemory) keeps crashed-JVM debris from accumulating in
    * tmpfs. `SPARK_GRAFT_STREAM_CKPT=tmp` forces java.io.tmpdir for
    * A/B timing against the tmpfs default (`shm`).
    */
  private val ckptRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val wantShm = sys.env.getOrElse("SPARK_GRAFT_STREAM_CKPT", "shm") != "tmp"
    val base = if (wantShm && java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val root = base.resolve(
      s"graft_stream_ckpt_${ProcessHandle.current().pid()}_${System.nanoTime()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(root)
      catch { case scala.util.control.NonFatal(_) => () }))
    root
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

  private def replayToMemory(
      s: SparkSession, prefix: String, frame: DataFrame, mode: String,
      statePartitions: Int = 4): String = {
    Option(lastSink.get(prefix)).foreach(s.catalog.dropTempView(_))
    val name = s"${prefix}_${streamRun.incrementAndGet()}"
    val ckpt = ckptRoot.resolve(name)
    // Belt-and-braces vs silent checkpoint resume: the root is per-JVM
    // unique so this should never find anything, but a pre-existing
    // checkpoint here would make AvailableNow replay NOTHING (offsets
    // already committed) — never start over one.
    try deleteRecursively(ckpt)
    catch { case scala.util.control.NonFatal(_) => () }
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = frame.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      try deleteRecursively(ckpt)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // A stopped replay's state-store providers stay cached in the
    // executor's loadedProviders map (each replay uses a fresh
    // checkpoint, so nothing ever re-uses them) until the maintenance
    // thread's next pass — 9 consecutive x_stream_dedup replays still
    // spiked to ~28 s with sink rows dropped but providers retained.
    // StateStore.unloadAll is private[sql] (bytecode-public), hence
    // reflection; the query is stopped, so unloading is pure cleanup.
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: ReflectiveOperationException => () }
    pruneDeadStreamingListenerBuses(s)
    lastSink.put(prefix, name)
    name
  }

  /** Every streaming query runs on a CLONED session (isolated runtime
    * conf), and the clone's `StreamingQueryManager` registers its own
    * `StreamingQueryListenerBus` on the shared `LiveListenerBus` —
    * which nothing ever unregisters when the query stops: a 24-replay
    * probe session had 19 dead buses attached, every Spark event
    * fanning out to each of them. Unregister every
    * StreamingQueryListenerBus except the root session's own after
    * each replay. All touched members are private[spark]/private[sql]
    * (bytecode-public), hence reflection; best-effort — a Spark
    * upgrade that breaks a lookup degrades to the old leaky behavior,
    * never to an error.
    */
  private def pruneDeadStreamingListenerBuses(s: SparkSession): Unit = try {
    val sc = s.sparkContext
    val own = {
      val mgr = s.streams
      mgr.getClass.getDeclaredFields
        .find(_.getType.getName.endsWith("StreamingQueryListenerBus"))
        .map { f => f.setAccessible(true); f.get(mgr) }.orNull
    }
    if (own != null) {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val all = bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[AnyRef]]
      // SparkListenerInterface itself is private[spark], so the remove
      // call goes through reflection too (removeListener on the bus)
      val remove = bus.getClass.getMethods
        .find(m => m.getName == "removeListener" && m.getParameterCount == 1)
      // snapshot first: removeListener mutates the backing list
      val dead = new java.util.ArrayList[AnyRef]()
      all.forEach { l =>
        if (l.getClass.getName.endsWith("StreamingQueryListenerBus") && (l ne own))
          dead.add(l)
      }
      dead.forEach(l => remove.foreach(_.invoke(bus, l)))
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------------------------
    // Relational core (S6/A3 surface + flagship agg)
    // ------------------------------------------------------------------

    // TPC-H-Q1-shaped pricing summary: scan → hash agg, decimal sums.
    "q1_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dec(sum(dec(col("l_quantity")))).cast(DoubleType).as("sum_qty"),
          dec(sum(dec(col("l_extendedprice")))).cast(DoubleType).as("sum_base_price"),
          dec4(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // A3: the reference's processing-summary query shape
    // (filter + CAST-to-date + group count + sort,
    // reference src/etl_processor.py:148-157). Dates go out as
    // yyyy-MM-dd strings so the oracle compare is representation-proof.
    "a3_summary_query" -> ((s, d) => {
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast(TimestampType))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("process_date"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("record_count"))
        .orderBy(col("process_date").desc, col("status"))
    }),

    // Join + agg + top-k over two tables (broadcast-eligible build side;
    // shows join planning beyond the reference's membership lookups).
    "q3_join_agg" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderpriority"))
      t(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          dec(sum(dec(col("l_extendedprice")))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("o_orderpriority"))
    }),

    // Three-table star join: fact -> dim -> tiny dim. `customer` is
    // data-proportional, so its join strategy is LEFT TO THE PLANNER
    // (auto-broadcast under the threshold at bench SFs, sort-merge at
    // 100 TB) — the former explicit hint forced a broadcast that the
    // 8 GB relation cap makes impossible at scale (r18). `nation` is
    // a fixed 25-row dimension: always broadcast.
    "q5_multi_join" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      t(s, d, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType).as("total_price"),
          count(lit(1)).as("n_orders"))
    }),

    // Equi-WIDTH histogram of l_quantity (10 buckets over [min,max])
    // — the fixed-grid companion to x_value_deciles' equi-depth cut.
    // The 1-row min/max broadcasts; bucketing is one codegen'd
    // expression whose IEEE ops replay identically in the oracle.
    "x_equiwidth_hist" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_quantity").as("v"))
      val mm = li.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      li.crossJoin(broadcast(mm))
        .select(least(lit(9L),
          floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / 10))
            .cast(LongType)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    }),

    // Algebraic MODE per group (most frequent user per event type):
    // count pairs, then ONE max-struct agg — ties to the smaller id;
    // no window, no sort, fully map-side combinable. The mode shape
    // that survives a hot group at corpus scale.
    "x_mode_per_group" -> ((s, d) =>
      events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(max(struct(col("c"), (-col("user_id")).as("nu"))).as("m"))
        .select(col("event_type"), col("m.c").as("n_events"),
          (-col("m.nu")).as("user_id"))),

    // Backlog sweep-line: open orders per (priority, day) from
    // +1/−1 interval deltas and a priority-partitioned cumulative sum
    // — interval counting WITHOUT expanding one row per open day (the
    // classic scalable shape; expansion would be |orders|·|span|). An
    // order opens at o_orderdate and closes the day after its last
    // lineitem ship date; orders with no lineitems are out of scope.
    // Both deltas come off each joined row via a 2-element explode —
    // NOT a union of two projections of the join, whose branches
    // Catalyst plans as TWO joins with TWO lineitem scans/shuffles
    // (PlanDump-verified; the r16 third-decade probe caught the
    // doubled shuffle crossing the fixed-parallelism spill threshold
    // at 180M rows). The window runs over the (priority, day)
    // aggregate — bounded by the calendar, never the fact table.
    "x_open_orders" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority").as("prio"),
        expr("datediff(to_date(o_orderdate), date '1970-01-01')")
          .cast(LongType).as("d0"))
      val close = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(max(expr("datediff(to_date(l_shipdate), date '1970-01-01')"))
          .cast(LongType).as("d1"))
      val iv = o.join(close, col("o_orderkey") === col("l_orderkey"))
      val deltas = iv
        .select(col("prio"), explode(array(
          struct(col("d0").as("day"), lit(1L).as("delta")),
          struct((col("d1") + 1L).as("day"), lit(-1L).as("delta")))).as("e"))
        .select(col("prio"), col("e.day").as("day"), col("e.delta").as("delta"))
        .groupBy(col("prio"), col("day")).agg(sum(col("delta")).as("net"))
      val w = Window.partitionBy(col("prio")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("n_open", sum(col("net")).over(w))
        .select(col("prio").as("o_orderpriority"), col("day"),
          col("net"), col("n_open"))
    }),

    // Correlated-subquery shape: orders above their CUSTOMER's mean
    // price, per priority. The mean comparison is cross-multiplied
    // (price·n > sum) so it stays exact decimal arithmetic — no
    // division ever happens, hence no float tie ambiguity at the
    // boundary. Per-customer stats join back on the key.
    "q_above_avg" -> ((s, d) => {
      // per-customer stats as SUM/COUNT windows over one custkey
      // partitioning — the agg-then-join-back form scanned orders
      // twice and added a join exchange (r18 plan audit)
      val o = t(s, d, "orders")
      val w = Window.partitionBy(col("o_custkey"))
      o.withColumn("__s", sum(dec(col("o_totalprice"))).over(w))
        .withColumn("__c", count(lit(1)).over(w))
        .filter(dec(col("o_totalprice")) * col("__c") > col("__s"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_above_avg"))
    }),

    // User lifespan histogram: whole days between first and last
    // event per user — the retention proxy next to x_retention's
    // cohort matrix. One min/max agg, then a bounded-bucket count.
    "x_lifespan_hist" -> ((s, d) =>
      events(s, d).groupBy(col("user_id"))
        .agg(expr("(max(unix_micros(ts_utc)) - min(unix_micros(ts_utc))) div 86400000000")
          .as("lifespan_days"))
        .groupBy(col("lifespan_days")).agg(count(lit(1)).as("n_users"))),

    // TPC-H Q4 shape: EXISTS as a LEFT SEMI join — orders with at
    // least one high-quantity line, counted per priority. The fact
    // side collapses to distinct keys inside the semi join; no
    // row multiplication ever happens.
    "q4_semi_join" -> ((s, d) => {
      val hi = t(s, d, "lineitem")
        .filter(col("l_quantity") >= 48).select(col("l_orderkey"))
      t(s, d, "orders")
        .join(hi, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // TPC-H Q13 shape: orders-per-customer distribution including
    // zero-order customers (left join + coalesce) — the other
    // cardinality profile next to x_join_card_hist's lines-per-order.
    "q13_custdist" -> ((s, d) => {
      val cnt = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("c"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("c"), lit(0L)).as("c_orders"))
        .groupBy(col("c_orders")).agg(count(lit(1)).as("n_customers"))
    }),

    // The SQL-registered extension surface end-to-end: graft_* kernel
    // functions resolved by name through spark.sql over a temp view,
    // verified by the same DuckDB oracle as the DataFrame surface —
    // proof the FunctionRegistry path (GraftExtensions.register) and
    // the Column path share one kernel.
    "x_sql_surface" -> ((s, d) => {
      graft.functions.GraftExtensions.register(s)
      t(s, d, "documents").createOrReplaceTempView("x_sql_docs")
      s.sql("""SELECT doc_id,
                 CAST(size(graft_shingles(text, 3)) AS BIGINT) AS n_shingles,
                 CAST(length(graft_normalize_text(text)) AS BIGINT) AS norm_len
               FROM x_sql_docs""")
    }),

    // Join-cardinality profile: lineitems-per-order histogram with
    // childless orders at bin 0 (left join + coalesce) — the
    // relationship profiling a join planner's skew story starts from.
    // Fact collapses to per-key counts before the dimension join.
    "x_join_card_hist" -> ((s, d) => {
      val cnt = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"))
      t(s, d, "orders").select(col("o_orderkey"))
        .join(cnt, col("o_orderkey") === col("l_orderkey"), "left")
        .select(coalesce(col("n_lines"), lit(0L)).as("lines_per_order"))
        .groupBy(col("lines_per_order")).agg(count(lit(1)).as("n_orders"))
    }),

    // TPC-H Q6 shape: tight multi-predicate scan + one global money
    // agg — the pushdown showcase (every predicate reaches the parquet
    // scan; the projection is 3 columns of 16). The 2-dec × 2-dec
    // product is fully represented at DECIMAL scale 4, so the sum is
    // order-independent and portable.
    "q6_filter_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("1997-01-01").cast(TimestampType)
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(
          dec4(sum(dec4(col("l_extendedprice") * col("l_discount"))))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q10 shape: returned-item revenue — top-20 customers by
    // lost revenue across a 3-table join. The 2-dec × 2-dec product
    // is fully represented at DECIMAL scale 4 (the q6 idiom), so the
    // per-customer sum is order-independent; top-k is a TakeOrdered
    // over the |customers|-bounded aggregate, and the 20-row winner
    // frame broadcasts back for the name column.
    "q10_returns" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val rev = t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(
          dec4(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
            .as("__rev"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("__rev").desc, col("o_custkey").asc)
        .limit(20)
      t(s, d, "customer").select(col("c_custkey"), col("c_name"))
        .join(broadcast(rev), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("__rev").cast(DoubleType).as("revenue"), col("n_lines"))
    }),

    // TPC-H Q18 shape: large-volume orders — HAVING over the fact
    // aggregate, then a join back to order detail. The quantity
    // filter runs on the |orders|-bounded aggregate BEFORE any join,
    // so the join input is the ~0.1% qualifying set, never the fact.
    "q18_big_orders" -> ((s, d) => {
      val big = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dec(sum(dec(col("l_quantity")))).as("__q"))
        .filter(col("__q") > 300)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("__q").cast(DoubleType).as("sum_qty"))
    }),

    // Order-to-ship latency histogram: whole WEEKS between the order
    // date and each line's ship date, per order priority — the SLA
    // distribution over the orders⋈lineitem join. Pure integer day
    // arithmetic (synthetic ship dates are uncorrelated with order
    // dates, so the spread is wide — the week grain keeps the output
    // priority × ~700 rows). Fact joins on the order key once.
    "x_ship_latency" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        expr("datediff(to_date(o_orderdate), date '1970-01-01')").as("__od"))
      t(s, d, "lineitem")
        .select(col("l_orderkey"),
          expr("datediff(to_date(l_shipdate), date '1970-01-01')").as("__sd"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          floor((col("__sd") - col("__od")) / lit(7.0)).cast(LongType)
            .as("lat_weeks"))
        .groupBy(col("o_orderpriority"), col("lat_weeks"))
        .agg(count(lit(1)).as("n_lines"))
    }),

    // Exact correlation moments of (extendedprice, quantity) per
    // return flag: n, Σx, Σy, Σxy as scaled integers (cents ×
    // hundredths) — Pearson's numerator n·Σxy − Σx·Σy is computable
    // downstream with zero float drift (Σxy ≤ 5e10/row · 6e5 rows,
    // comfortably inside BIGINT). One map-side-combined agg.
    "x_price_qty_moments" -> ((s, d) => {
      val x = (dec(col("l_extendedprice")) * 100).cast(LongType)
      val y = (dec(col("l_quantity")) * 100).cast(LongType)
      t(s, d, "lineitem")
        .select(col("l_returnflag"), x.as("__x"), y.as("__y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("__x")).as("sum_price_cents"),
          sum(col("__y")).as("sum_qty_hundredths"),
          sum(col("__x") * col("__y")).as("sum_xy"))
    }),

    // Weekly active/new user growth: distinct (user, week) pairs, each
    // user's first week from an algebraic min, then one count per
    // week — the audience-growth view next to x_retention's cohort
    // view. Integers only; two key-partitioned shuffles.
    "x_user_growth" -> ((s, d) => {
      val wk = expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
      val uw = events(s, d)
        .select(col("user_id"), wk.cast(LongType).as("week"))
        .distinct()
      // first week as a MIN window — the agg-then-join-back form
      // evaluated the distinct frame twice (r18 plan audit)
      uw.withColumn("first_week",
          min(col("week")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("week"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("week") === col("first_week"), 1L).otherwise(0L))
            .as("n_new"))
    }),

    // Cumulative distinct users over time (the total-audience curve):
    // per-user first day (algebraic min) → per-day new-user counts —
    // a CALENDAR-bounded frame regardless of corpus size — then the
    // running total via the x_coverage_curve sorted-array fold (one
    // collected ≤|days|-row array, O(days²) inside a single row).
    // No unpartitioned data-proportional window anywhere. Rows appear
    // on the days the count increases.
    "x_cumulative_users" -> ((s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      ud.groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
        .agg(sort_array(collect_list(struct(col("day"), col("n_new"))))
          .as("xs"))
        .select(explode(expr(
          """transform(xs, (x, i) -> named_struct(
            |  'day', x.day,
            |  'cum', aggregate(slice(xs, 1, i + 1), 0L, (a, y) -> a + y.n_new)))"""
            .stripMargin)).as("r"))
        .select(col("r.day").as("day"), col("r.cum").as("cum_users"))
    }),

    // Engagement mobility matrix: users bucketed into within-week
    // activity QUINTILES (exact rank formula (rn−1)·5 div n, ties by
    // id — never ntile), then week-over-week (from, to) transition
    // counts. High diagonal mass = stable engagement strata; heavy
    // off-diagonal churn = volatile usage. The rank window is
    // week-partitioned over the per-(user, week) aggregate.
    "x_mobility_matrix" -> ((s, d) => {
      // one event scan: the per-week user count rides a COUNT window
      // over the same week partitioning as the rank (the separate
      // agg + join re-evaluated the user-week frame), and consecutive-
      // week transitions come from a per-user LAG instead of the
      // self-join that re-evaluated the whole bucket subtree (r18
      // plan audit: 3 event scans + 9 exchanges for 1 scan of work).
      // Identical rows: uw is unique per (user, week), so the lag's
      // (prev_week = week − 1) filter selects exactly the self-join's
      // consecutive-week pairs.
      val wk = expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
      val uw = events(s, d)
        .groupBy(col("user_id"), wk.cast(LongType).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("week"))
        .orderBy(col("n").desc, col("user_id").asc)
      val b = uw.withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("nw", count(lit(1)).over(Window.partitionBy(col("week"))))
        .select(col("user_id"), col("week"),
          expr("(rn - 1) * 5 div nw + 1").as("bucket"))
      val wu = Window.partitionBy(col("user_id")).orderBy(col("week"))
      b.withColumn("from_bucket", lag(col("bucket"), 1).over(wu))
        .withColumn("__pw", lag(col("week"), 1).over(wu))
        .filter(col("__pw") === col("week") - 1L)
        .groupBy(col("from_bucket"), col("bucket").as("to_bucket"))
        .agg(count(lit(1)).as("n_transitions"))
    }),

    // Customer reorder-cadence histogram: whole days between
    // consecutive orders per customer (capped at 180) — the purchase
    // analogue of x_gap_hist. Fully deterministic lag order
    // (orderdate, orderkey).
    "x_reorder_gaps" -> ((s, d) => {
      val day = expr("datediff(to_date(o_orderdate), date '1970-01-01')")
        .cast(LongType)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("__day"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), day.as("__day"))
        .withColumn("__gap", col("__day") - lag(col("__day"), 1).over(w))
        .filter(col("__gap").isNotNull)
        .groupBy(least(col("__gap"), lit(180L)).as("gap_days"))
        .agg(count(lit(1)).as("n_gaps"))
    }),

    // Supplier account-balance rollup per nation: the supplier
    // dimension's deep-read entry (broadcast nation join, decimal
    // money sums).
    "x_supplier_balance" -> ((s, d) => {
      val nat = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      t(s, d, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          dec(sum(dec(col("s_acctbal")))).cast(DoubleType).as("total_acctbal"))
    }),

    // Four-level star rollup: region → nation → customer → orders —
    // the deepest dimension chain in the schema (and the only reader
    // of `region`). Every dimension broadcasts; the fact table
    // shuffles once, for the final aggregate.
    "x_region_rollup" -> ((s, d) => {
      val reg = t(s, d, "region").select(col("r_regionkey"), col("r_name"))
      val nat = t(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      // customer is data-proportional — planner-chosen join (see
      // q5_multi_join); nation/region are fixed-size dims
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      t(s, d, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType)
            .as("total_price"))
    }),

    // Top shipped parts by quantity with attributes from the `part`
    // dimension: fact collapses to per-part sums FIRST, the 15-row
    // top-k is a TakeOrdered, and the dimension attaches by broadcast
    // of the top frame — the dimension never joins the raw fact.
    "x_top_parts" -> ((s, d) => {
      val sums = t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(dec(sum(dec(col("l_quantity")))).as("__q"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("__q").desc, col("l_partkey").asc)
        .limit(15)
      t(s, d, "part").select(col("p_partkey"), col("p_name"), col("p_brand"))
        .join(broadcast(sums), col("p_partkey") === col("l_partkey"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("__q").cast(DoubleType).as("sum_qty"), col("n_lines"))
    }),

    // Top-N per group: rank orders inside each customer by price.
    // Window partitioned by the group key — parallel by key, no global
    // sort; the filter keeps plans bounded regardless of group count.
    "q_topn_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }),

    // Rollup: multi-level aggregate (status × priority, per-status,
    // grand total) in ONE pass — Expand + single shuffle, not three jobs.
    "q_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType).as("total_price"))
    }),

    // UNPIVOT (wide → long melt): the three lineitem measures as
    // (metric, value) rows, aggregated per metric — one Expand node,
    // single pass, never three scans. Decimal-routed sums.
    // null values excluded EXPLICITLY on both sides — Spark's unpivot
    // and a UNION ALL replay differ on null handling, so the contract
    // is pinned rather than left to either engine's default
    "x_unpivot" -> ((s, d) =>
      // widened: the Expand×3 above the exchange is the per-row cost
      widen(t(s, d, "lineitem"))
        .unpivot(
          Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .filter(col("value").isNotNull)
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n_values"),
          dec(sum(dec(col("value")))).cast(DoubleType).as("sum_value"))),

    // Relational set ops: EXCEPT / INTERSECT (distinct semantics) over
    // two derived id sets — planned as left-anti / left-semi joins
    // after Catalyst's ReplaceExceptWithAntiJoin family, never a
    // pairwise comparison.
    "x_set_ops" -> ((s, d) => {
      // doc_id is unique, so EXCEPT/INTERSECT of the two id sets are
      // plain conditional counts over per-row membership flags — the
      // three-set-op form scanned documents SIX times (each set op
      // re-evaluates both filtered legs) and shuffled three distincts
      // for what is ONE scan + one agg (r18 plan audit). coalesce
      // pins null lang/n_chars to non-membership, exactly the
      // semantics of the filtered id sets.
      val docs = t(s, d, "documents")
      val en = coalesce(col("lang") === "en", lit(false))
      val long = coalesce(col("n_chars") >= 300, lit(false))
      docs.agg(
        count(when(en && !long, lit(1))).as("n_en_only"),
        count(when(en && long, lit(1))).as("n_en_long"),
        count(when(long && !en, lit(1))).as("n_long_only"))
    }),

    // GROUPING SETS: the two one-dimension marginals + grand total in
    // ONE Expand + single shuffle — the slice the full cube/rollup
    // doesn't give directly (no (status, priority) cross cells).
    "x_grouping_sets" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType).as("total_price"))
    }),

    // Multi-granularity time rollup in ONE Expand pass: event counts
    // at day, epoch-week, and epoch-month grain via grouping sets —
    // one scan + one shuffle instead of a job per grain. `grain`
    // disambiguates (a null key marks the other grains' rows).
    "x_time_rollup" -> ((s, d) => {
      val ev = events(s, d).select(
        expr("datediff(to_date(ts_utc), date '1970-01-01')")
          .cast(LongType).as("day"))
        .withColumn("week", expr("day div 7"))
        .withColumn("month", expr("day div 30"))
      ev.groupingSets(
          Seq(Seq(col("day")), Seq(col("week")), Seq(col("month"))),
          col("day"), col("week"), col("month"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          when(col("day").isNotNull, "day")
            .when(col("week").isNotNull, "week")
            .otherwise("month").as("grain"),
          coalesce(col("day"), col("week"), col("month")).as("bucket"),
          col("n_events"))
    }),

    // Running cumulative sum per customer over order time — partitioned
    // window, frame unbounded-preceding..current (decimal-routed).
    "q_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        dec(sum(dec(col("o_totalprice"))).over(w))
          .cast(DoubleType).as("cum_price"))
    }),

    // Gap-based sessionization over the events stream: a new session
    // starts after >30 min of per-user inactivity (lag + cumulative sum
    // over a user-partitioned window — state bounded per user).
    "x_sessionize" -> ((s, d) => sessionFrame(s, d)),

    // Sessions-per-user histogram off the shared sessionized frame —
    // the cadence view next to x_session_stats' one-row summary.
    "x_sessions_per_user_hist" -> ((s, d) =>
      sessionFrame(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
        .groupBy(col("n_sessions")).agg(count(lit(1)).as("n_users"))),

    // Null/NaN incidence per event type: the column-health profile a
    // pipeline owner reads before trusting `value` aggregates (NaN
    // poisons sums silently; the exact-stats family here filters both
    // explicitly — this entry quantifies what those filters drop).
    "x_null_rates" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
          sum(when(col("value").isNotNull && isnan(col("value")), 1L)
            .otherwise(0L)).as("n_nan_value"),
          sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"))),

    // Primary-key integrity audit across the three fact tables: row
    // count vs distinct ids (duplicates), id range vs cardinality
    // (holes) — the two silent ingestion failures (double-load,
    // dropped batch) that surface as wrong JOIN results much later.
    // One agg per table, unioned; n_gaps > 0 means ids were skipped.
    "x_id_integrity" -> ((s, d) => {
      def audit(name: String, df: DataFrame, idc: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            countDistinct(col(idc)).as("n_distinct_ids"),
            min(col(idc)).cast(LongType).as("min_id"),
            max(col(idc)).cast(LongType).as("max_id"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("n_distinct_ids"), col("min_id"), col("max_id"),
            (col("max_id") - col("min_id") + 1L - col("n_distinct_ids"))
              .as("n_gaps"))
      audit("documents", t(s, d, "documents"), "doc_id")
        .unionAll(audit("events", events(s, d), "event_id"))
        .unionAll(audit("orders", t(s, d, "orders"), "o_orderkey"))
    }),

    // One-row session summary off the same sessionized frame; the p50
    // session length is the exact order statistic via the narrowing
    // selector (|sessions| input, bounded driver state).
    "x_session_stats" -> ((s, d) => {
      val sess = sessionFrame(s, d)
      val p50 = graft.operators.Quantiles
        .exactQuantiles(sess, "n_events", Seq(0.5)).collect()(0).getDouble(2)
      sess.agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("n_events")).as("total_events"),
        max(col("n_events")).as("max_len"))
        .withColumn("p50_len", lit(p50))
    }),

    // As-of join: every purchase event gets the user's most recent
    // PRIOR (inclusive) non-purchase event — union + one shuffle on the
    // key + an ordered window, never a range join. Timestamps go out as
    // epoch-microsecond longs so the oracle compare is representation-
    // proof. (user_id, ts) is unique in the data; the operator's
    // payload-struct tie-break makes the entry deterministic even if it
    // were not.
    "x_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_utc"))
      val others = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
      TemporalJoins.asofBackward(purchases, others, Seq("user_id"),
          "ts_utc", "ts_utc", Seq("event_type", "value"), prefix = "prior_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("purchase_us"),
          unix_micros(col("prior_ts_utc")).as("prior_us"),
          col("prior_event_type").as("prior_type"),
          col("prior_value"))
    }),

    // As-of with a STALENESS bound: the prior event must be within 1
    // hour or the match nulls out — the market-data/attribution
    // variant ("don't attribute to a week-old touch"). Same one-
    // shuffle union-window plan as x_asof_join; the tolerance is a
    // post-window comparison, not a second join.
    "x_asof_tolerance" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_utc"))
      val others = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
      TemporalJoins.asofBackward(purchases, others, Seq("user_id"),
          "ts_utc", "ts_utc", Seq("event_type", "value"), prefix = "prior_",
          tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts_utc")).as("purchase_us"),
          unix_micros(col("prior_ts_utc")).as("prior_us"),
          col("prior_event_type").as("prior_type"),
          col("prior_value"))
    }),

    // Interval (range) join: clicks in the hour strictly before each
    // purchase, per user — bucketed equi-join (≤2× left explode), exact
    // range post-filter, then a per-purchase aggregate. Decimal-cast
    // addends so Spark's and DuckDB's summation order agree.
    "x_interval_join" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_utc"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_utc").as("click_ts"), col("value"))
      TemporalJoins.intervalJoin(purchases, clicks, Seq("user_id"),
          "ts_utc", "click_ts", -3600L * 1000000L, 0L, Seq("value"), prefix = "click_")
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_clicks"),
          dec4(sum(dec4(col("click_value")))).cast(DoubleType).as("sum_click_value"))
    }),

    // ------------------------------------------------------------------
    // Row-rule operators (P2-P6) over the testdata tables
    // ------------------------------------------------------------------

    // P2: required/missing detection (null after a transform).
    "p2_required_check" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast(StringType))
          .otherwise(col("o_orderpriority")).isNull.as("required_field_missing"))
    }),

    // P3: not_null rule (null OR whitespace-only, stricter than P2).
    "p3_not_null" -> ((s, d) => {
      t(s, d, "customer").select(
        col("c_custkey"),
        (col("c_mktsegment").isNull ||
          trim(col("c_mktsegment")) === "").as("not_null_violation"))
    }),

    // P4: range rule via the actual RuleCompiler, exploded to errors.
    "p4_range" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val errs = RuleCompiler.compileField(
        lineitemRules.head, RuleCompiler.defaultLookups, _ => true, col("l_quantity"))
      li.withColumn("errors", errs)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("e.ErrorType").as("error_type"),
          when(col("l_quantity") < 5, "below").otherwise("above").as("bound"))
    }),

    // P5: regex rule (anchored re.match semantics) via RuleCompiler.
    "p5_regex" -> ((s, d) => {
      val rule = ValidationRule("regex", Map("pattern" -> "^Brand#[0-9]{2}$"))
      val errs = RuleCompiler.compileRule("p_brand", col("p_brand"), rule).get
      t(s, d, "part")
        .withColumn("errors", errs)
        .filter(size(col("errors")) > 0)
        .select(col("p_partkey"), col("p_brand"),
          lit("REGEX").as("error_type"))
    }),

    // P6: date_range rule via RuleCompiler.
    "p6_date_range" -> ((s, d) => {
      val errs = RuleCompiler.compileField(
        lineitemRules(2), RuleCompiler.defaultLookups, _ => true, col("l_shipdate"))
      t(s, d, "lineitem")
        .withColumn("errors", errs)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("e.ErrorType").as("error_type"))
    }),

    // P7: lookup as a broadcast LEFT ANTI join against a dim subset.
    "p7_lookup_antijoin" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val dim = t(s, d, "supplier").filter(col("s_suppkey") <= 5)
        .select(col("s_suppkey"))
      li.join(broadcast(dim), li("l_suppkey") === dim("s_suppkey"), "left_anti")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("missing_rows"))
    }),

    // P8+A2: valid/invalid split summary over the compiled rule set —
    // one agg job, no separate count actions.
    "p8_split_summary" -> ((s, d) => {
      annotatedLineitem(s, d)
        .agg(
          count(lit(1)).as("total_records"),
          sum(when(size(col("errors")) === 0, 1L).otherwise(0L)).as("valid_records"),
          sum(when(size(col("errors")) > 0, 1L).otherwise(0L)).as("invalid_records"),
          sum(size(col("errors")).cast(LongType)).as("error_count"))
    }),

    // P9: error fan-out — one row per violated rule (explode Generator).
    "p9_error_fanout" -> ((s, d) => {
      annotatedLineitem(s, d)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("e.FieldName").as("field_name"),
          col("e.ErrorType").as("error_type"))
    }),

    // S6/§4.2: deterministic first-N error report — the reference's
    // "First 5 Errors" preview needs an explicit total sort key on a
    // distributed frame. TakeOrderedAndProject, never a global sort.
    "s6_error_report" -> ((s, d) => {
      annotatedLineitem(s, d)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("e.FieldName").as("field_name"),
          col("e.ErrorType").as("error_type"))
        // (orderkey, linenumber, field) is a total key: one error per
        // rule per lineitem row -> the LIMIT boundary is unambiguous
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("field_name"))
        .limit(10)
    }),

    // P10: source→target rename projection with computed column
    // (reference src/etl_processor.py:68-92 column mapping).
    "p10_rename_projection" -> ((s, d) => {
      t(s, d, "lineitem").select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        col("l_quantity").as("quantity"),
        col("l_returnflag").as("return_flag"),
        // bare IEEE double product — bit-identical in Spark and DuckDB
        // (round(double,2) tie-breaking differs between engines)
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("net_price"))
    }),

    // S5: error-sink value truncation (substring to 255).
    "s5_truncate" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        substring(col("text"), 1, 255).as("field_value"),
        length(col("text")).cast(LongType).as("text_len"))
    }),

    // A7 (extension): one-pass column profile — null/distinct counts,
    // numeric min/max — the pre-rules data-quality survey.
    "a7_profile" -> ((s, d) => {
      graft.operators.Profiler.profile(
        t(s, d, "lineitem"),
        Seq("l_quantity", "l_returnflag", "l_suppkey"))
    }),

    // ------------------------------------------------------------------
    // Global/aggregate operators (A1/A4/A5/A6)
    // ------------------------------------------------------------------

    // A1: duplicate_check — dup groups via hash agg (map-side partials;
    // the per-row demotion variant is windowed in ValidationPipeline).
    "a1_duplicate_check" -> ((s, d) => {
      Dedup.exactDupGroups(t(s, d, "lineitem"), Seq("l_partkey", "l_suppkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("dup_count"))
    }),

    // A4: unique scope=daily — (day, key) groups with >1 member.
    "a4_unique_daily" -> ((s, d) => {
      events(s, d)
        .groupBy(date_format(col("ts_utc"), "yyyy-MM-dd").as("event_day"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
    }),

    // Rolling per-user daily activity (trailing 7 calendar days): the
    // event-feature step. RANGE frame over day ordinals so gap days
    // count by value; the stream collapses to (user, day) before the
    // per-user window — state bounded by one user's active days.
    "x_rolling_activity" -> ((s, d) => {
      graft.operators.EventFeatures.rollingDailyCounts(
        events(s, d), "ts_utc", "user_id", windowDays = 7)
    }),

    // Funnel completion-latency distribution: exact ORDER-STATISTIC
    // p50/p90 (rank ceil(q·n) — the x_temporal_split convention) over
    // integer-µs view→purchase gaps of completers, via the
    // histogram-narrowing selector (≤ 512-row driver state; the
    // interpolating percentile() it replaces buffered the whole gap
    // array in one aggregation state). The gap frame is checkpointed:
    // the funnel's per-user windows run once, not once per narrowing
    // pass.
    "x_conversion_latency" -> ((s, d) => {
      val f = graft.operators.EventFeatures.funnel(
        events(s, d), "ts_utc", "user_id", "event_type",
        steps = Seq("view", "click", "purchase"),
        windowMicros = 86400000000L)
      val gaps = f.filter(col("t3_us") >= 0)
        .select((col("t3_us") - col("t1_us")).as("gap"))
        .localCheckpoint(false)
      val cuts = graft.operators.Quantiles.exactQuantiles(
          gaps.withColumn("__v", col("gap").cast(DoubleType)), "__v",
          Seq(0.5, 0.9))
        .agg(max(when(col("q") === 0.5, col("value"))).as("__p50"),
          max(when(col("q") === 0.9, col("value"))).as("__p90"))
      gaps.agg(count(lit(1)).as("n_completed"), max(col("gap")).as("max_us"))
        .crossJoin(broadcast(cuts))
        .select(col("n_completed"),
          col("__p50").cast(LongType).as("p50_us"),
          col("__p90").cast(LongType).as("p90_us"),
          col("max_us"))
    }),

    // Weekly retention matrix: cohort = epoch-week of first signup,
    // offsets from cohort week forward; all-integer outputs.
    "x_retention" -> ((s, d) =>
      graft.operators.EventFeatures.retentionCohorts(
        events(s, d), "ts_utc", "user_id",
        cohortFilter = col("event_type") === "signup")),

    // Day-k retention curve (k = 1, 7, 28): of all users, how many
    // were active again EXACTLY k days after their first-ever day —
    // x_retention's cohort matrix collapsed to the three canonical
    // checkpoints. First day per user is an algebraic min; the three
    // probes are one semi-join of (user, first+k) against the
    // distinct-activity frame — never a per-k rescan of the stream.
    "x_retention_curve" -> ((s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("f"))
      val nUsers = first.count()
      first.select(col("user_id"),
          explode(expr("array(1L, 7L, 28L)")).as("k"), col("f"))
        .select(col("user_id"), col("k"), (col("f") + col("k")).as("day"))
        .join(ud, Seq("user_id", "day"), "left_semi")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_retained"))
        .select(col("k"), lit(nUsers).as("n_users"), col("n_retained"))
    }),

    // Near-zero-variance screen over event values: per event type,
    // row count, distinct values, and the modal value with its count
    // (null/NaN measurements excluded — the incidence entry profiles
    // those). A feature whose top value carries almost all the mass
    // is dropped before any model sees it. Two map-side-combined
    // aggs + one max-struct; no window anywhere.
    "x_near_zero_variance" -> ((s, d) => {
      val v = events(s, d)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("n"))
      v.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          max(struct(col("n"), (-col("value")).as("nv"))).as("m"))
        .select(col("event_type"), col("n_rows"), col("n_distinct"),
          (-col("m.nv")).as("top_value"), col("m.n").as("top_n"))
    }),

    // Conversion funnel view→click→purchase with a 24h completion
    // window: greedy-earliest strict chain per user, pure integer-µs
    // comparisons. 14/150 users convert at sf0.01 — the flag is
    // non-vacuous.
    "x_funnel" -> ((s, d) =>
      graft.operators.EventFeatures.funnel(
        events(s, d), "ts_utc", "user_id", "event_type",
        steps = Seq("view", "click", "purchase"),
        windowMicros = 86400000000L)),

    // Per-user daily burst flags: each user's own mean + 2σ baseline
    // over active days — integer moments, one IEEE division each,
    // correctly-rounded sqrt, so the 0/1 flags are hash-exact.
    "x_daily_anomalies" -> ((s, d) =>
      graft.operators.EventFeatures.dailyAnomalies(
        events(s, d), "ts_utc", "user_id", z = 2.0)),

    // First-order event-type transition matrix (Markov counts): one
    // key-partitioned lead window over (ts, event_id), then a
    // |types|²-bounded pair agg + broadcast denominator.
    // percent_rank over the bounded daily series per type: both
    // engines define it as (rank−1)/(rows−1) — an exact IEEE division
    // of the same integers, so the doubles are bit-identical. Adds
    // the relative-rank window family to the catalog.
    "x_percent_rank" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(count(lit(1)).as("n"))
      daily.select(col("event_type"), col("day"), col("n"),
        percent_rank().over(
          Window.partitionBy(col("event_type")).orderBy(col("n"))).as("pr"))
    }),

    // Weekly-seasonality strength: exact Spearman numerator between
    // each day's volume and the volume 7 days earlier, per event type
    // — high rank agreement at lag 7 = strong weekly rhythm (reads
    // against x_dow_profile). Same doubled tie-averaged rank formula
    // as x_rank_corr, over the joined bounded daily series.
    "x_seasonal_corr" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(count(lit(1)).as("n"))
      val joined = daily.join(
        daily.select(col("event_type"), (col("day") + 7).as("day"),
          col("n").as("n7")),
        Seq("event_type", "day"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("n"))
      val wvt = Window.partitionBy(col("event_type"), col("n"))
      val wt = Window.partitionBy(col("event_type")).orderBy(col("n7"))
      val wtt = Window.partitionBy(col("event_type"), col("n7"))
      joined.withColumn("__rv",
          lit(2L) * rank().over(wv) + count(lit(1)).over(wvt) - 1L)
        .withColumn("__rt",
          lit(2L) * rank().over(wt) + count(lit(1)).over(wtt) - 1L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("__rv") - col("__rt")) * (col("__rv") - col("__rt")))
            .as("d2x4"))
    }),

    // Exact Spearman trend test per event type: is DAILY VOLUME
    // drifting with time? d2x4 is the integer numerator
    // Σ(2r_n − 2r_day)² over tie-averaged ranks of the daily-count
    // series (doubled ranks 2r = 2·rank + ties − 1 clear the .5
    // halves, squaring clears the rest: scale 4) — Spearman
    // ρ = 1 − 6·(d2x4/4)/(n(n²−1)) is driver arithmetic. The corpus
    // collapses to the (type, day) aggregate BEFORE any window, so the
    // rank windows run over the bounded daily series (the
    // x_ewma_trend/x_weekly_deltas contract), never a per-type sort of
    // raw rows.
    "x_rank_corr" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("n_events"))
      val wvt = Window.partitionBy(col("event_type"), col("n_events"))
      // day is unique within a type (plain rank would do), but both
      // axes share the doubled-rank form so the formula stays one
      val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wtt = Window.partitionBy(col("event_type"), col("day"))
      daily.withColumn("__rv",
          lit(2L) * rank().over(wv) + count(lit(1)).over(wvt) - 1L)
        .withColumn("__rt",
          lit(2L) * rank().over(wt) + count(lit(1)).over(wtt) - 1L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("__rv") - col("__rt")) * (col("__rv") - col("__rt")))
            .as("d2x4"))
    }),

    "x_event_transitions" -> ((s, d) =>
      graft.operators.EventFeatures.transitionCounts(
        events(s, d), "ts_utc", "user_id", "event_type", "event_id")),

    // Gap-filled 6-hourly resample per event type: dense bucket grid
    // (|types| × sequence over the broadcast span) left-joined onto
    // the one-shuffle counts agg; empty buckets are explicit zeros.
    "x_resample" -> ((s, d) =>
      graft.operators.EventFeatures.resampleCounts(
        events(s, d), "ts_utc", "event_type", bucketSeconds = 21600L)),

    // SCD2 historization: per-user state runs as half-open validity
    // intervals (open run = -1 sentinel); both windows ride ONE
    // key-partitioned exchange, output ∝ state changes.
    "x_scd2_intervals" -> ((s, d) =>
      graft.operators.Upsert.stateIntervals(
        events(s, d), "user_id", "ts_utc", "event_type", "event_id")),

    // Current-state snapshot off the SCD2 history — the most common
    // SCD2 read (WHERE valid_to IS OPEN), rolled up per state.
    "x_scd2_current" -> ((s, d) =>
      graft.operators.Upsert.stateIntervals(
          events(s, d), "user_id", "ts_utc", "event_type", "event_id")
        .filter(col("valid_to_us") === -1L)
        .groupBy(col("state")).agg(count(lit(1)).as("n_users"))),

    // RFM segmentation: per-user recency/frequency/monetary + exact
    // rank-bucket quintile scores (rank*5 div n + 1 over the
    // deterministic (metric, key) order — never an ntile window).
    "x_user_rfm" -> ((s, d) =>
      graft.operators.EventFeatures.rfmScores(
        events(s, d), "ts_utc", "user_id", "event_type", "value",
        monetaryType = "purchase")),

    // Top-20 three-step journeys (path DISCOVERY, vs x_funnel's
    // hypothesis measurement): one shared lead window, |types|³
    // agg, TakeOrderedAndProject cut with path-ascending ties.
    "x_event_paths" -> ((s, d) =>
      graft.operators.EventFeatures.pathCounts(
        events(s, d), "ts_utc", "user_id", "event_type", "event_id",
        depth = 3, k = 20)),

    // Dyadic EWMA trend per type: closed-form 2^-k terms over observed
    // weekly ranks — exact, order-independent, oracle-replayable.
    "x_ewma_trend" -> ((s, d) =>
      graft.operators.EventFeatures.ewmaWeekly(
        events(s, d), "ts_utc", "event_type")),

    // Week-over-week deltas per type: one map-side-combined
    // (type, week) collapse, then a type-partitioned lag over the
    // |types × weeks|-bounded frame; first weeks carry null prev.
    "x_weekly_deltas" -> ((s, d) => {
      val week = expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
      val weekly = events(s, d)
        .groupBy(col("event_type"), week.cast(LongType).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("delta", col("n") - col("prev_n"))
    }),

    // Behavioral breadth: distinct event types per user → histogram
    // — the engagement-depth view next to x_type_affinity's pair
    // counts.
    "x_type_diversity" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_types"))
        .groupBy(col("n_types")).agg(count(lit(1)).as("n_users"))),

    // Weekly churn: per week, active users and how many are ABSENT
    // the following week — the loss-side companion to x_user_growth's
    // new-user counts (the final week churns fully by construction:
    // there is no week after it). One distinct + one self-join on the
    // shifted week.
    "x_churn" -> ((s, d) => {
      val uw = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
            .cast(LongType).as("week"))
        .distinct()
      val next = uw.select(col("user_id"), (col("week") - 1).as("week"),
        lit(1).as("__next"))
      uw.join(next, Seq("user_id", "week"), "left")
        .groupBy(col("week"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("__next").isNull, 1L).otherwise(0L)).as("n_churned"))
    }),

    // Activity concentration: the top-1% heaviest users' share of all
    // events, as exact integers (top_events / total_events). k =
    // ceil(0.01·U) from one bounded count; the k heavy users come
    // from a TakeOrdered over per-user counts (ties to smaller id).
    "x_power_users" -> ((s, d) => {
      val per = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      val u = per.count()
      val k = math.max(1L, math.ceil(0.01 * u).toLong)
      val top = per.orderBy(col("n").desc, col("user_id").asc).limit(k.toInt)
      top.agg(sum(col("n")).as("top_events"))
        .select(lit(u).as("n_users"), lit(k).as("k"), col("top_events"))
        .crossJoin(broadcast(
          per.agg(sum(col("n")).as("total_events"))))
    }),

    // 7-day rolling distinct users (WAU) per day: each (user, day)
    // activity row CONTRIBUTES to the next 7 report days (in-row
    // sequence explode — a bounded 7× expansion), then one distinct
    // count per day. Exact rolling distincts without a range join and
    // without re-scanning 7 days per report day.
    "x_rolling_wau" -> ((s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      ud.select(col("user_id"),
          explode(expr("sequence(day, day + 6)")).as("rday"))
        .join(broadcast(days.select(col("day").as("rday"))), "rday")
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(col("rday").as("day"), col("wau"))
    }),

    // Shuffle-partition balance audit: events and distinct users per
    // hash partition (the repo's portable 2-round LCG mod 32, the
    // same family every split/sample entry replays in SQL) — the
    // pre-flight that shows whether a keyed shuffle of this stream
    // would land balanced or hot-spotted. One count agg; 32 rows.
    "x_hash_balance" -> ((s, d) =>
      events(s, d)
        .groupBy(pmod(graft.operators.Sampling.hashRank(col("user_id")),
          lit(32L)).as("partition_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))),

    // Audience overlap between event types: for every type pair,
    // user-set sizes and intersection (Jaccard derivable exactly) —
    // which behaviors share an audience vs split it. The self-join
    // runs on the distinct (type, user) frame, so the expansion is
    // bounded by |types|² per user, never events².
    "x_user_overlap_types" -> ((s, d) => {
      // per-type user counts ride a COUNT window on the distinct frame
      // BEFORE the self-join, so each join side carries its own size —
      // the separate sizes agg was referenced twice and re-evaluated
      // the events-distinct corpus pass once per reference (r18 plan
      // audit: 4 event scans for 2 passes of work). n_a/n_b are
      // constant per type, so min() under the pair group is exact.
      val tu = events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
      tu.as("a").join(tu.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"),
          min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"))
    }),

    // Week-0 cohort behavior: per event type, events inside each
    // user's FIRST 7 days vs after — what new users actually do
    // before habits settle (onboarding design reads this table).
    // First day is an algebraic min joined back on the key.
    "x_first_week_behavior" -> ((s, d) => {
      // each user's first day is a MIN window over the same user
      // partitioning — the agg-then-join-back form referenced the
      // event scan twice (r18 plan audit)
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        expr("datediff(to_date(ts_utc), date '1970-01-01')")
          .cast(LongType).as("day"))
      ev.withColumn("f",
          min(col("day")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("day") < col("f") + 7L, 1L).otherwise(0L))
            .as("n_week0"),
          sum(when(col("day") >= col("f") + 7L, 1L).otherwise(0L))
            .as("n_later"))
    }),

    // Median dwell time per event-type transition: the lag gap on the
    // (ts, event_id)-ordered per-user stream keyed by "from>to", then
    // the grouped exact-quantile selector (|transitions|² groups,
    // ≤ B-row driver state each; no per-group sort). The funnel-
    // diagnosis companion to x_event_transitions' count matrix.
    "x_step_latency" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("__t"), col("event_id"))
      val gaps = events(s, d)
        .filter(col("event_type").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts_utc")).as("__t"))
        .withColumn("__from", lag(col("event_type"), 1).over(w))
        .withColumn("__gap", (col("__t") - lag(col("__t"), 1).over(w))
          .cast(DoubleType))
        .filter(col("__from").isNotNull)
        .select(concat_ws(">", col("__from"), col("event_type"))
          .as("transition"), col("__gap"))
      graft.operators.Quantiles.groupedExactQuantile(
        gaps, "transition", "__gap", q = 0.5)
    }),

    // New-vs-returning mix per day: events and distinct users split
    // by whether the day is the user's first-ever — the acquisition/
    // retention composition of daily traffic. First day is an
    // algebraic min joined back on the key.
    "x_new_vs_returning" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("datediff(to_date(ts_utc), date '1970-01-01')")
          .cast(LongType).as("day"))
      // first day as a MIN window — the agg-then-join-back form
      // scanned events twice (r18 plan audit)
      ev.withColumn("f",
          min(col("day")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("day"))
        .agg(
          sum(when(col("day") === col("f"), 1L).otherwise(0L))
            .as("n_new_user_events"),
          sum(when(col("day") =!= col("f"), 1L).otherwise(0L))
            .as("n_returning_events"),
          countDistinct(when(col("day") === col("f"), col("user_id")))
            .as("n_new_users"),
          countDistinct(when(col("day") =!= col("f"), col("user_id")))
            .as("n_returning_users"))
    }),

    // DAU and 28-day MAU per day — the two exact integer legs of the
    // stickiness ratio (DAU/MAU), the engagement KPI read next to
    // x_rolling_wau's weekly grain. Same in-row sequence-explode
    // idiom (bounded 28× expansion of the distinct (user, day)
    // frame); no range join, no 28-day rescans.
    "x_stickiness" -> ((s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      val dau = ud.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val mau = ud.select(col("user_id"),
          explode(expr("sequence(day, day + 27)")).as("rday"))
        .join(broadcast(days.select(col("day").as("rday"))), "rday")
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as("mau28"))
      dau.join(mau, col("day") === col("rday"))
        .select(col("day"), col("dau"), col("mau28"))
    }),

    // Weekly-rhythm heatmap at the HOURLY grain: (epoch-day mod 7,
    // UTC hour) event counts — x_dow_profile's finer companion for
    // load shaping and batch-window placement. The hour comes from
    // pure epoch-µs arithmetic, so there are no session-timezone
    // semantics to replay in the oracle. One shuffle; ≤ 7×24 rows.
    "x_hour_heatmap" -> ((s, d) =>
      events(s, d)
        .groupBy(
          expr("datediff(to_date(ts_utc), date '1970-01-01') % 7")
            .cast(LongType).as("dow_idx"),
          expr("(unix_micros(ts_utc) div 3600000000) % 24")
            .cast(LongType).as("hour_utc"))
        .agg(count(lit(1)).as("n_events"))),

    // Activity distribution: events-per-user histogram — the state-
    // sizing view for every per-user stateful operator (sessionize,
    // funnels, streaming state stores). Two map-side-combined aggs.
    "x_events_per_user_hist" -> ((s, d) =>
      events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("events_per_user"))
        .groupBy(col("events_per_user"))
        .agg(count(lit(1)).as("n_users"))),

    // Inter-event gap histogram (whole minutes, capped at 120): the
    // distribution the session-gap threshold is read off — pairs with
    // x_session_gap_sweep's closed-form counts. One per-user lag
    // window, then a bounded-bucket count.
    "x_gap_hist" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_utc"))
      val tsUs = unix_micros(col("ts_utc"))
      events(s, d)
        .select((tsUs - lag(tsUs, 1).over(byUser)).as("__gap"))
        .filter(col("__gap").isNotNull)
        .select(least(expr("__gap div 60000000"), lit(120L)).as("gap_minutes"))
        .groupBy(col("gap_minutes")).agg(count(lit(1)).as("n_gaps"))
    }),

    // Top weekly movers: the 10 largest week-over-week count swings
    // across event types (|delta| desc, ties by type/week) — the
    // anomaly shortlist over x_weekly_deltas' full series. TakeOrdered
    // top-k, never a global sort.
    "x_top_movers" -> ((s, d) => {
      val week = expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
      val weekly = events(s, d)
        .groupBy(col("event_type"), week.cast(LongType).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .withColumn("delta", col("n") - lag(col("n"), 1).over(w))
        .filter(col("delta").isNotNull)
        .select(col("event_type"), col("week"), col("delta"))
        .orderBy(abs(col("delta")).desc, col("event_type").asc, col("week").asc)
        .limit(10)
    }),

    // Event-type co-occurrence (market-basket affinity): users doing
    // BOTH type A and B, per unordered pair — per-user type sets are
    // bounded by the event-type vocabulary, so the in-row pair
    // expansion is constant-sized and the only shuffles are the
    // distinct and the final count.
    "x_type_affinity" -> ((s, d) => {
      val sets = events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id"))
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      sets.select(explode(expr(
          "flatten(transform(ts, (a, i) -> transform(slice(ts, i + 2, size(ts)), b -> struct(a AS type_a, b AS type_b))))")).as("p"))
        .select(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // 7-day rolling value sum per event type over the daily series —
    // a RANGE-framed window (gaps in the calendar shorten the frame,
    // unlike a rows frame), exact through DECIMAL, over the bounded
    // (type, day) aggregate.
    "x_rolling_value_7d" -> ((s, d) => {
      val daily = events(s, d)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(sum(dec(col("value"))).as("__s"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("event_type"), col("day"),
        dec(sum(col("__s")).over(w)).cast(DoubleType).as("sum_7d"))
    }),

    // Longest consecutive-day activity streak per user → histogram:
    // the gaps-and-islands pattern (island id = day − row_number per
    // user, a per-user window over DISTINCT days), then two counts.
    "x_streak_hist" -> ((s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      ud.withColumn("__island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("__island"))
        .agg(count(lit(1)).as("__len"))
        .groupBy(col("user_id")).agg(max(col("__len")).as("max_streak"))
        .groupBy(col("max_streak")).agg(count(lit(1)).as("n_users"))
    }),

    // Monetary weekly rhythm: decimal value sums per (epoch-day mod
    // 7, type) — the revenue-weighted companion to x_dow_profile's
    // count view (traffic and value peak on different days when
    // purchase behavior is weekend-skewed). Null/NaN measurements
    // drop explicitly; DECIMAL routing keeps the sum order-free.
    "x_value_by_dow" -> ((s, d) =>
      events(s, d)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(
          expr("datediff(to_date(ts_utc), date '1970-01-01') % 7")
            .cast(LongType).as("dow_idx"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec(sum(dec(col("value")))).cast(DoubleType).as("sum_value"))),

    // Discount-band effect: line count, quantity, and revenue per
    // discount level — the elasticity read (does a deeper discount
    // move more units?). 11 distinct discount values → an 11-row
    // agg; all money stays in DECIMAL until emission.
    "x_discount_effect" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_discount"))
        .agg(count(lit(1)).as("n_lines"),
          dec(sum(dec(col("l_quantity")))).cast(DoubleType).as("sum_qty"),
          dec4(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
            .cast(DoubleType).as("revenue"))),

    // Day-of-week seasonality profile: (epoch-day mod 7, type) event
    // and distinct-user counts — the weekly-rhythm view next to
    // x_weekly_deltas' trend view. dow_idx 0 = Thursday (1970-01-01).
    // One shuffle on the grouping key; integers only.
    "x_dow_profile" -> ((s, d) =>
      events(s, d)
        .groupBy(
          expr("datediff(to_date(ts_utc), date '1970-01-01') % 7")
            .cast(LongType).as("dow_idx"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))),

    // Two-sample KS drift, early-vs-late halves of the event stream
    // (split at the epoch-µs midpoint), per event_type — on a FIXED
    // 1/16-unit dyadic grid: value is a continuous double, so the
    // exact ECDF's per-type window input would equal the type's
    // distinct-value count (≈ row count — a per-type single-task sort
    // at scale, the r12 verdict's one flagged shape). Quantizing
    // bounds the window input at range·16 ≤ 8 976 CELLS per type at
    // any corpus size, and bounds true D within one cell's mass.
    // ks_num stays the exact integer numerator (D = ks_num/(n_a·n_b))
    // — floor yields longs, no float division, hash-stable. The
    // midpoint is a 1-row broadcast.
    "x_ks_drift" -> ((s, d) => {
      val ev = events(s, d)
      val mid = ev.agg(
        expr("(min(unix_micros(ts_utc)) + max(unix_micros(ts_utc))) div 2")
          .as("__mid"))
      val tagged = ev.crossJoin(broadcast(mid))
        .withColumn("__s",
          (unix_micros(col("ts_utc")) >= col("__mid")).cast(IntegerType))
      Drift.ksStatisticOnGrid(tagged, "event_type", "value", "__s",
        cellsPerUnit = 16)
    }),

    // Binned drift contingency table — the 100 TB-scale drift path
    // next to x_ks_drift's exact-ECDF view: per (type, corpus-decile
    // bin) early/late counts, edges from the histogram-narrowing
    // exact-quantile selector compiled into ONE codegen'd comparison
    // chain (no join, no window; PSI/chi² are driver arithmetic over
    // these integers).
    "x_bin_drift" -> ((s, d) => {
      val ev = events(s, d)
      val mid = ev.agg(
        expr("(min(unix_micros(ts_utc)) + max(unix_micros(ts_utc))) div 2")
          .as("__mid"))
      val tagged = ev.crossJoin(broadcast(mid))
        .withColumn("__s",
          (unix_micros(col("ts_utc")) >= col("__mid")).cast(IntegerType))
      Drift.binnedDriftCounts(tagged, "event_type", "value", "__s")
    }),

    // First-touch attribution: each user's FIRST event type (algebraic
    // min-struct, map-side combined) crossed with the funnel's
    // conversion flag — users absent from the funnel count as 0.
    "x_first_touch" -> ((s, d) => {
      val ev = events(s, d)
      val first = ev.groupBy(col("user_id"))
        .agg(min(struct(col("ts_utc"), col("event_id"), col("event_type")))
          .as("f"))
        .select(col("user_id"), col("f.event_type").as("first_type"))
      val conv = graft.operators.EventFeatures.funnel(ev, "ts_utc", "user_id",
          "event_type", Seq("view", "click", "purchase"), 86400000000L)
        .select(col("user_id"), col("converted"))
      first.join(conv, Seq("user_id"), "left")
        .na.fill(0, Seq("converted"))
        .groupBy(col("first_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("converted")).cast(LongType).as("n_converted"))
    }),

    // Robust (median/MAD) outliers — A5's z-score with a 50% breakdown
    // point: exact medians from the narrowing selector, then a
    // shuffle-free flag against driver constants.
    "x_mad_outliers" -> ((s, d) =>
      graft.operators.Quantiles.madOutliers(events(s, d), "value", k = 3.0)
        .select(col("event_id"), col("value"))),

    // Wide cross-tab: source × lang doc counts via the pivot operator
    // (explicit value list keeps the plan static; absent combos 0).
    "x_pivot_counts" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .count()
        .na.fill(0L)),

    // CUBE over (returnflag, linestatus): all four grouping levels in
    // one pass (the expand-based multi-level aggregate).
    "x_cube_counts" -> ((s, d) =>
      // widened: the Expand×4 above the exchange is the per-row cost
      widen(t(s, d, "lineitem"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          dec(sum(dec(col("l_quantity")))).cast(DoubleType).as("sum_qty"))),

    // A5: z-score outliers — two-pass agg + broadcast crossJoin, never an
    // unpartitioned window (SURVEY §7.3: 100 TB through one task is a
    // non-starter).
    "a5_zscore_outlier" -> ((s, d) => {
      val ev = events(s, d)
      val stats = ev.agg(
        avg(col("value")).as("m"), stddev_samp(col("value")).as("sd"))
      ev.crossJoin(broadcast(stats))
        .filter(abs((col("value") - col("m")) / col("sd")) > 3.0)
        .select(col("event_id"), col("value"))
    }),

    // Fact-to-fact reconciliation report: per order status, how many
    // orders have NO lineitems (referential completeness — 257 gaps
    // at sf0.01) and how far the stored totals drift from totals
    // recomputed off the line items. Decimal-exact sums; one
    // orderkey-shuffle join of the pre-aggregated line totals, then a
    // |statuses|-row agg.
    "x_reconcile" -> ((s, d) => {
      // the 3-factor product has EXACTLY 6 decimal digits (2+2+2), so
      // a scale-6 cast is a pure representation change — no rounding,
      // no engine tie-mode skew (scale-4 casts diverge: DuckDB rounds
      // the shortest repr, Spark the binary value)
      val lines = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).cast(DecimalType(18, 6)))
          .cast(DecimalType(18, 6)).as("computed"))
      t(s, d, "orders")
        .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("computed").isNull, 1L).otherwise(0L)).as("n_no_lines"),
          // big money sums emit as exact scaled INTEGERS (cents /
          // micro-units): a 17-digit decimal -> DOUBLE cast differs in
          // the last ulp across engines, an integer cannot
          (dec(sum(dec(col("o_totalprice")))) * lit(100))
            .cast(LongType).as("stored_total_cents"),
          (coalesce(sum(col("computed")).cast(DecimalType(18, 6)),
            lit(0).cast(DecimalType(18, 6))) * lit(1000000))
            .cast(LongType).as("computed_total_micros"))
    }),

    // A6: referential integrity — broadcast anti-join vs a dim subset.
    "a6_referential_integrity" -> ((s, d) => {
      val o = t(s, d, "orders")
      val dim = t(s, d, "customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey"))
      o.join(broadcast(dim), o("o_custkey") === dim("c_custkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"))
    }),

    // ------------------------------------------------------------------
    // Training-data-pipeline extensions
    // ------------------------------------------------------------------

    // Exact dedup: canonical-survivor ids (lowest doc_id per distinct text).
    "x_dedup_exact" -> ((s, d) => {
      Dedup.exactDedup(t(s, d, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"))
    }),

    // Exact-dup audit groups keyed by content hash.
    "x_dedup_groups" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // MinHash-LSH near-dups. The candidate stage is not SQL-expressible,
    // but the VERIFIED output is oracle-checked against a DuckDB exact
    // shingle-jaccard all-pairs join: every true pair in the corpus has
    // j >= 0.8, where these LSH parameters (16 bands of 4 rows) miss a
    // pair with probability <= (1-0.8^4)^16 ~ 2e-4 — and the hashing is
    // deterministic, so equality is a checkable fact, verified LSH
    // output == exact set at BOTH sf0.01 (25 pairs) and sf0.1 (256
    // pairs, incl. the one j=0.8 pair). The jaccard measure itself (one
    // int/int IEEE division) is bit-identical across engines.
    // Golden-pair assertions in DedupSpec. storage=NONE: the returned
    // frame is lazy so nothing could ever unpersist a cache from here,
    // and at this scale recomputing the projection beats cache churn.
    // NOTE: the DuckDB side is all-pairs — ~2 s at sf0.01 but >10 min
    // at sf0.1; the oracle gate runs at sf0.01 only.
    "x_dedup_minhash" -> ((s, d) => {
      Dedup.minHashNearDups(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
    }),

    // Exact n-gram Jaccard near-dups (posting-list intersection counts,
    // no LSH): the DIRECT computation of what x_dedup_minhash
    // approximates-then-verifies. The oracle is the same all-pairs
    // formulation; this operator's output must equal it exactly.
    // Served from the shared per-dataset pair graph (see
    // [[ngramPairGraph]]) — the corpus-wide shingle pass runs once per
    // session and the clusters/split entries derive from it.
    "x_dedup_ngram" -> ((s, d) => ngramPairGraph(s, d)._1),

    // Entity-resolution fuzzy match: inject a one-char-deleted typo
    // copy of every 20th title, then blocked (6-char prefix) +
    // levenshtein<=2 verify — the MDM blocking+verify shape for short
    // strings; hot blocks capped, the in-key-edit recall caveat is
    // the operator's documented contract.
    // Single-pass blocked levenshtein = the PREFIX PASS of the shared
    // multi-pass artifact (r12: filters the provenance-tagged frame
    // instead of recomputing the blocked join — and because it now
    // shares x_fuzzy_multipass's substitution fixture, the single-pass
    // recall gap vs multipass is directly measurable: an in-prefix
    // typo breaks the prefix block, so this pass misses exactly the
    // pairs the suffix pass recovers).
    "x_fuzzy_match" -> ((s, d) =>
      fuzzyMultipassPairs(s, d).filter(col("in_prefix") === 1L)
        .select(col("id_a"), col("id_b"), col("dist"))),

    // Multi-pass blocking — the production answer to the in-key-edit
    // caveat: union DISTINCT pairs from a prefix pass and a suffix
    // pass. The injected typo is a SUBSTITUTION at position 3 — inside
    // the prefix key (so the prefix pass alone cannot see these
    // pairs) but length-preserving (so the suffix key survives and
    // the second pass recovers them). Pair frame session-shared with
    // x_golden_records (same artifact shape as the ngram pair graph).
    "x_fuzzy_multipass" -> ((s, d) =>
      fuzzyMultipassPairs(s, d).select(col("id_a"), col("id_b"), col("dist"))),

    // Per-pass recall AUDIT off the provenance-tagged shared frame:
    // one row quantifying what each blocking pass contributes (the
    // injected in-prefix substitution makes typo pairs invisible to
    // the prefix pass — n_prefix counts how many it still found via
    // accidental blocks, n_suffix the recovery). Integer counts only;
    // a blocking-strategy change shows up here as a diff, not an
    // anecdote.
    "x_fuzzy_pass_recall" -> ((s, d) =>
      fuzzyMultipassPairs(s, d).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("in_prefix")).as("n_prefix"),
        sum(col("in_suffix")).as("n_suffix"),
        sum(when(col("in_prefix") === 1L && col("in_suffix") === 1L, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("id_b") >= 10000000L, 1L).otherwise(0L)).as("n_typo_pairs"),
        sum(when(col("id_b") >= 10000000L, col("in_prefix")).otherwise(0L))
          .as("n_typo_prefix"))),

    // Golden records — the full MDM resolution pipeline composed from
    // session primitives: multi-pass fuzzy pairs → connected
    // components → min-id survivor per entity cluster. Every typo'd
    // record resolves back to its original; the corpus is only
    // anti-joined.
    "x_golden_records" -> ((s, d) => {
      val pairs = fuzzyMultipassPairs(s, d).select(col("id_a"), col("id_b"))
      graft.operators.Clusters.dedupClusters(fuzzyTitles(s, d), "doc_id",
          graft.operators.Clusters.connectedComponents(pairs))
        .select(col("doc_id"))
    }),

    // Split-leakage audit: how many near-dup pairs CROSS train/val/
    // test boundaries under the plain id-hash split vs the
    // cluster-safe split — the one-row report that justifies
    // withClusterSafeSplit (plain hashing strands near-duplicates on
    // opposite sides of the eval boundary; the cluster-id hash cannot,
    // by construction). Pair-bounded joins off the shared artifacts.
    "x_split_leakage" -> ((s, d) => {
      val (pairs, components) = ngramPairGraph(s, d)
      val docs = t(s, d, "documents")
      val plain = graft.operators.Sampling.withSplit(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      val safe = graft.operators.Sampling.withClusterSafeSplit(
          docs, "doc_id", components)
        .select(col("doc_id"), col("split").as("safe_split"))
      // each pair explodes into its two endpoints and joins the split
      // frames ONCE each — the four per-side joins referenced `plain`
      // and `safe` twice apiece, and Catalyst evaluated the corpus-
      // sized split subtrees once per reference (r18 plan audit). The
      // pair graph has no self-loops, so doc_id = id_a marks the side
      // unambiguously and each (pair, side) group folds back to one
      // row. INVARIANT this rewrite leans on (r19 advice): every pair
      // endpoint resolves in both split frames — withSplit /
      // withClusterSafeSplit label EVERY doc, and pair ids come from
      // those same docs — so the inner joins drop nothing; a pair with
      // a missing endpoint would have been dropped by the old
      // four-join form but kept (with null sa/sb) here.
      val p = pairs.select(col("id_a"), col("id_b"))
      val joined = p
        .select(col("id_a"), col("id_b"),
          explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .join(plain, "doc_id")
        .join(safe, "doc_id")
        .groupBy(col("id_a"), col("id_b"))
        .agg(
          max(when(col("doc_id") === col("id_a"), col("split"))).as("sa"),
          max(when(col("doc_id") === col("id_b"), col("split"))).as("sb"),
          max(when(col("doc_id") === col("id_a"), col("safe_split")))
            .as("ca"),
          max(when(col("doc_id") === col("id_b"), col("safe_split")))
            .as("cb"))
      joined.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as("n_leaked_plain"),
        sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L))
          .as("n_leaked_safe"))
    }),

    // Survivorship by QUALITY: keep the longest doc per near-dup
    // cluster (ties to the lower id) — member-bounded winner agg +
    // one corpus anti-join, off the shared pair graph.
    "x_dedup_best" -> ((s, d) => {
      val (_, components) = ngramPairGraph(s, d)
      graft.operators.Clusters.bestPerCluster(
        t(s, d, "documents"), "doc_id", components, "n_chars")
        .select(col("doc_id"), col("n_chars"))
    }),

    // Near-dup degree histogram off the shared pair graph: how many
    // docs have k near-duplicates — the dedup-audit summary a curator
    // reads before choosing survivors (a fat tail means hub docs /
    // template spam). Two tiny aggs over the pair-bounded frame.
    "x_dup_degree" -> ((s, d) => {
      val pairs = ngramPairGraph(s, d)._1
      pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
    }),

    // Exact n-gram CONTAINMENT pairs: |A∩B|/min(|A|,|B|) >= 0.7 — the
    // snippet-in-document axis Jaccard dilutes away. On this corpus
    // the pair SET matches the Jaccard family (no snippet structure in
    // the synthetic text — the asymmetric case is spec-pinned); the
    // containment VALUES are the distinct verified computation. Rides
    // the shared docShingles artifact — one corpus shingle pass per
    // session feeds both this and the Jaccard pair graph.
    "x_dedup_containment" -> ((s, d) =>
      Dedup.ngramContainmentFromShingles(
        docShingles(s, d), threshold = 0.7, maxPostings = 1000,
        metric = "graft_containment_postings_doc_id_text")),

    // Cross-source contamination audit: near-dup pair counts per
    // unordered source pair, from the shared pair graph — the
    // governance view of the dedup family (which crawls feed each
    // other duplicated text). Pair side broadcasts; documents never
    // shuffle.
    "x_source_overlap" -> ((s, d) =>
      Dedup.pairAttributeOverlap(
        ngramPairGraph(s, d)._1, t(s, d, "documents"), "doc_id", "source")
        .select(col("attr_a").as("source_a"), col("attr_b").as("source_b"),
          col("n_pairs"))),

    // Cross-LANGUAGE near-dup pairs (same machinery as
    // x_source_overlap on the lang axis): off-diagonal mass here is
    // the translation/copy-paste artifact signal — text that clears
    // the n-gram threshold across language labels is almost always a
    // mislabeled or code/number-heavy duplicate.
    "x_dup_pairs_by_lang" -> ((s, d) =>
      Dedup.pairAttributeOverlap(
        ngramPairGraph(s, d)._1, t(s, d, "documents"), "doc_id", "lang")
        .select(col("attr_a").as("lang_a"), col("attr_b").as("lang_b"),
          col("n_pairs"))),

    // Duplicate-CLUSTER resolution: near-dup pairs → connected
    // components (alternating large-star/small-star) → (doc, cluster
    // root). Pairs come from the exact n-gram family, so the component
    // structure is SQL-expressible and the oracle closes it with a
    // recursive CTE. Output covers exactly the docs that appear in a
    // pair; cluster_id is the smallest reachable doc_id.
    "x_dedup_clusters" -> ((s, d) => {
      ngramPairGraph(s, d)._2
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    }),

    // Source-contribution inequality: the exact Gini NUMERATOR
    // (Σᵢⱼ|tᵢ−tⱼ|, integers) over per-source token mass plus n and the
    // total — Gini = sad/(2·n·total) is driver arithmetic. The
    // corpus collapses to one row per source before the |sources|²
    // broadcast cross — the rebalancing signal read before setting
    // x_temperature_mix exponents.
    "x_source_balance" -> ((s, d) => {
      val st = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("tok"))
      st.select(col("tok").as("ta"))
        .crossJoin(broadcast(st.select(col("tok").as("tb"))))
        .agg(sum(abs(col("ta") - col("tb"))).as("sum_abs_diff"))
        .crossJoin(broadcast(st.agg(count(lit(1)).as("n_sources"),
          sum(col("tok")).as("total_tokens"))))
    }),

    // Are near-duplicates lower quality? Classifier keep-rate split
    // by dup-cluster membership (pair-bounded components broadcast
    // onto the codegen'd classifier projection) — the evidence for
    // ordering dedup before or after the quality gate at 100 TB.
    "x_dup_quality" -> ((s, d) => {
      val comp = ngramPairGraph(s, d)._2
        .select(col("id").as("doc_id"), lit(1).as("__dup"))
      QualityClassifier.score(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("keep").cast(IntegerType).as("keep_flag"))
        .join(broadcast(comp), Seq("doc_id"), "left")
        .groupBy(coalesce(col("__dup"), lit(0)).as("in_dup_cluster"),
          col("keep_flag"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Dedup GOVERNANCE by source, off the shared pair graph: per
    // source, how many docs sit in a near-dup cluster and how many a
    // min-id dedup would remove — the "which crawls ship duplicated
    // text" rollup a curation owner reads before re-weighting sources.
    // The pair-bounded components frame broadcast-joins onto the
    // corpus; one agg, integers only.
    "x_dup_rate_by_source" -> ((s, d) => {
      val comp = ngramPairGraph(s, d)._2
      t(s, d, "documents")
        .join(comp.select(col("id").as("doc_id"),
          (col("id") =!= col("component")).cast("long").as("__loser")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("__loser")).as("n_dup_members"),
          coalesce(sum(col("__loser")), lit(0L)).as("n_removed"))
    }),

    // Cluster-SIZE histogram off the shared pair graph: how big the
    // near-dup groups are (size → n_clusters, n_docs) — the shape a
    // curation owner reads before choosing a survivorship policy
    // (many 2-groups vs a few giant mirror clusters behave very
    // differently under keep-one). Pair-bounded aggregation only.
    "x_cluster_sizes" -> ((s, d) => {
      ngramPairGraph(s, d)._2
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    }),

    // Hub centrality of the near-dup structure: integer fixed-point
    // PageRank (5 rounds, damping 85/100, scale 10^6) over the shared
    // pair graph — ranks the template/boilerplate sources many
    // distinct documents partially copy above one-off mirror pairs.
    // All-integer `div` arithmetic makes the fixed point bit-identical
    // on any engine and any summation order; each round shuffles only
    // the id-only edge list (∝ near-dup pairs, structurally ≪ corpus).
    "x_pair_pagerank" -> ((s, d) =>
      Clusters.pageRankInt(ngramPairGraph(s, d)._1)
        .select(col("id").as("doc_id"), col("pr"))),

    // Cross-source spread of duplicate clusters: per cluster, how
    // many distinct sources its members span, as a histogram —
    // clusters confined to one source are re-crawls (dedup freely);
    // multi-source clusters are syndication/mirroring, where the
    // survivor policy decides which source's metadata wins. Rides
    // the session-shared component frame; everything pair-bounded.
    "x_dup_cluster_sources" -> ((s, d) => {
      ngramPairGraph(s, d)._2
        .select(col("id").as("doc_id"), col("component"))
        .join(t(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("component"))
        .agg(countDistinct(col("source")).as("n_sources"))
        .groupBy(col("n_sources")).agg(count(lit(1)).as("n_clusters"))
    }),

    // Join-explosion guard: the self-join cardinality of lineitem on
    // l_partkey ESTIMATED from the key histogram alone (Σ n_k² — the
    // exact output size, no join executed), plus the skew ceiling
    // (hottest key and its row count). The pre-flight a 100 TB
    // pipeline runs before any many-to-many join it didn't design.
    "x_join_explosion_est" -> ((s, d) => {
      val per = t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"))
      per.agg(count(lit(1)).as("n_keys"),
          sum(col("n") * col("n")).as("est_self_join_rows"),
          max(struct(col("n"), (-col("l_partkey")).as("nk"))).as("m"))
        .select(col("n_keys"), col("est_self_join_rows"),
          col("m.n").as("max_rows_per_key"), (-col("m.nk")).as("top_key"))
    }),

    // Triad census of the near-dup graph (vertices/edges/wedges/
    // triangles): distinguishes chained near-duplication (transitive
    // clustering over-merges) from clique-like mirror groups. Exact
    // integers; candidate volume is the wedge count, never the corpus.
    "x_triad_census" -> ((s, d) =>
      Clusters.triadCensus(ngramPairGraph(s, d)._1)),

    // LSH banding capacity profile: (band, bucket) population
    // histogram for the MinHash index — the companion to
    // x_posting_stats for the signature family, and the distribution
    // maxBucket is sized against. Rides the shared shingle
    // projection; verified against the kernel-replay golden.
    "x_minhash_bucket_hist" -> ((s, d) =>
      docShingles(s, d)
        .select(posexplode(Dedup.minHashBands(col("sh"), 64, 16)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        .groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bucket_size"))
        .groupBy(col("bucket_size")).agg(count(lit(1)).as("n_buckets"))),

    // Posting-list capacity profile: shingle document-frequency
    // histogram (df → n_shingles) off the SHARED shingle projection —
    // the distribution that justifies the inverted-index family's
    // hot-shingle caps (maxPostings): a heavy tail here is exactly
    // the bucket-overflow risk the caps bound. Linear work; the df
    // agg is map-side combined.
    "x_posting_stats" -> ((s, d) =>
      docShingles(s, d)
        .select(explode(col("sh")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .groupBy(col("df")).agg(count(lit(1)).as("n_shingles"))),

    // Similarity histogram of the verified near-dup pairs: pair counts
    // per jaccard decile — the threshold-setting view (a mass of pairs
    // hugging 0.5 means the cut is arbitrary; a bimodal split means
    // it's safe). floor(j·10) on the exact IEEE division is
    // bit-identical across engines; rides the shared pair graph.
    "x_dup_similarity_hist" -> ((s, d) =>
      ngramPairGraph(s, d)._1
        .groupBy(floor(col("jaccard") * 10).cast(LongType).as("sim_decile"))
        .agg(count(lit(1)).as("n_pairs"))),

    // 2-hop reach per dup-graph vertex: how many docs each doc would
    // drag along under transitive merging — large reach with low
    // triangle closure (x_triad_census) is the over-merge smell. One
    // symmetric edge self-join on the middle vertex; volume = wedge
    // count, pair-bounded, never the corpus.
    "x_khop_reach" -> ((s, d) => {
      val p = ngramPairGraph(s, d)._1
      val sym = p.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(p.select(col("id_b").as("u"), col("id_a").as("v")))
      val two = sym.select(col("u"), col("v").as("m"))
        .join(sym.select(col("u").as("m"), col("v")), "m")
        .select(col("u"), col("v"))
        .filter(col("u") =!= col("v"))
      sym.unionAll(two).distinct()
        .groupBy(col("u")).agg(count(lit(1)).as("n_within_2"))
        .select(col("u").as("doc_id"), col("n_within_2"))
    }),

    // Incremental dedup: index 4/5 of the corpus once, probe the other
    // 1/5 as an incoming batch — the 100 TB ingest pattern (the corpus
    // is never re-shingled per crawl). Oracle-exact for the same reason
    // x_dedup_minhash is: at this SF the banded candidates subsume every
    // true pair >= threshold, and verification is exact Jaccard.
    "x_dedup_incremental" -> ((s, d) => {
      val (batch, pairs) = indexAndProbe(s, d)
      pairs
    }),

    // The full incremental-ingest composition: probe the batch against
    // the indexed corpus, keep only novel docs, quality-filter them,
    // report per-language intake. Every stage's formulation is
    // individually oracle-verified (x_dedup_incremental,
    // x_quality_classifier); this entry proves they compose.
    "x_incremental_ingest" -> ((s, d) => {
      val (batch, pairs) = indexAndProbe(s, d)
      val novel = Dedup.keepNovel(batch, "doc_id", pairs)
      QualityClassifier.filterByQuality(novel, "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
    }),

    // SimHash near-dups (hamming <= 3) — rows-only.
    "x_dedup_simhash" -> ((s, d) => {
      Dedup.simHashNearDups(t(s, d, "documents"), "doc_id", "text",
        maxDistance = 3)
    }),

    // Estimator-quality audit: how well the CHEAP near-dup signal
    // (SimHash hamming ≤ 3 — one 64-bit hash per doc) agrees with the
    // exact n-gram Jaccard ≥ 0.5 pair set, as one integer row
    // (union / both / each-only). This is the measurement a curator
    // uses to decide whether the cheap pass can gate the expensive
    // one at 100 TB. Exact side rides the shared pair graph; both
    // pair frames are structurally ≪ corpus, so the full-outer join
    // is pair-bounded.
    "x_simhash_vs_exact" -> ((s, d) => {
      val sim = Dedup.simHashNearDups(t(s, d, "documents"), "doc_id", "text",
          maxDistance = 3)
        .select(col("id_a"), col("id_b"), lit(1L).as("__s"))
      val exact = ngramPairGraph(s, d)._1
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      sim.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(lit(1)).as("n_union"),
          sum(when(col("__s").isNotNull && col("__e").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("__e").isNull, 1L).otherwise(0L)).as("n_simhash_only"),
          sum(when(col("__s").isNull, 1L).otherwise(0L)).as("n_exact_only"))
    }),

    // Estimator-quality audit #2: MinHash SIGNATURE-agreement pairs
    // (n_agree/64 ≥ 0.5, no exact verification — the pass a 100 TB
    // pipeline would run if it skipped verify) vs the exact n-gram
    // Jaccard ≥ 0.5 pair set. Complements x_simhash_vs_exact: SimHash
    // is the one-hash signal, MinHash-unverified is the signature
    // signal — together they bound what verification buys. Both pair
    // frames structurally ≪ corpus.
    "x_minhash_vs_exact" -> ((s, d) => {
      val est = Dedup.minHashEstimatedPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1L).as("__m"))
      val exact = ngramPairGraph(s, d)._1
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      est.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(lit(1)).as("n_union"),
          sum(when(col("__m").isNotNull && col("__e").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("__e").isNull, 1L).otherwise(0L)).as("n_minhash_only"),
          sum(when(col("__m").isNull, 1L).otherwise(0L)).as("n_exact_only"))
    }),

    // Estimated-similarity histogram over the MinHash candidate
    // pairs: n_agree (of 64) → pair count — the resolution curve of
    // the signature estimator near the 0.5 threshold (a spike at the
    // minimum agreement means the cutoff sits inside a dense
    // similarity band and verification is load-bearing). One tiny
    // agg over the already-bounded candidate pair frame.
    "x_minhash_est_hist" -> ((s, d) =>
      Dedup.minHashEstimatedPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5, metricName = Some("graft_minhash_est_hist"))
        .groupBy(col("n_agree").cast(LongType).as("n_agree"))
        .agg(count(lit(1)).as("n_pairs"))),

    // Signature-width sweep: the x_minhash_vs_exact audit at 64 AND
    // 16 hashes (bands 16/4, same rows-per-band) — what narrowing the
    // signature 4× costs in estimator fidelity, as two integer rows.
    "x_minhash_sweep" -> ((s, d) => {
      val exact = ngramPairGraph(s, d)._1
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      def audit(nh: Int, nb: Int): DataFrame =
        Dedup.minHashEstimatedPairs(t(s, d, "documents"), "doc_id", "text",
            numHashes = nh, bands = nb, threshold = 0.5,
            metricName = Some(s"graft_minhash_sweep_$nh"))
          .select(col("id_a"), col("id_b"), lit(1L).as("__m"))
          .join(exact, Seq("id_a", "id_b"), "full_outer")
          .agg(
            count(lit(1)).as("n_union"),
            sum(when(col("__m").isNotNull && col("__e").isNotNull, 1L)
              .otherwise(0L)).as("n_both"),
            sum(when(col("__e").isNull, 1L).otherwise(0L)).as("n_minhash_only"),
            sum(when(col("__m").isNull, 1L).otherwise(0L)).as("n_exact_only"))
          .select(lit(nh.toLong).as("n_hashes"), col("n_union"),
            col("n_both"), col("n_minhash_only"), col("n_exact_only"))
      audit(64, 16).unionAll(audit(16, 4))
    }),

    // Embedding-cosine near-dups via hyperplane LSH — rows-only.
    // threshold tuned to the synthetic corpus (max pairwise cosine ~0.51;
    // 271 pairs >= 0.35 at sf0.01) so the check is non-vacuous.
    "x_dedup_embedding" -> ((s, d) => {
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, planes = 6, tables = 8)
    }),

    // SemDeDup-shaped semantic dedup: embedding near-dup pairs (same
    // verified-exact params as x_dedup_embedding) → connected components
    // → one min-id survivor per cluster. Oracle derives components from
    // the committed golden pair set (the same corpus-keyed golden
    // x_dedup_embedding hash-matches — pair membership is float-near-
    // threshold, so live DuckDB cosine could flip a borderline pair;
    // the component/survivor logic on top is pure set algebra).
    "x_semantic_dedup" -> ((s, d) => {
      Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, planes = 6, tables = 8)
        .select(col("vec_id"))
    }),

    // Embedding dimension contract: vector-length histogram — a mixed
    // dim column breaks every ANN kernel downstream, so this is the
    // first audit run on a new embedding drop.
    "x_embed_dims" -> ((s, d) =>
      t(s, d, "embeddings")
        .groupBy(size(col("embedding")).cast(LongType).as("dim"))
        .agg(count(lit(1)).as("n_vecs"))),

    // Embedding-store health: per-label vector counts + zero vectors
    // (undefined cosine — the rows the ANN family's NaN guards
    // exist for). Exact float comparison, one agg.
    "x_label_balance" -> ((s, d) =>
      t(s, d, "embeddings")
        .groupBy(col("label").cast(LongType).as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(expr("!exists(embedding, x -> x != 0F)"), 1L)
            .otherwise(0L)).as("n_zero_vecs"))),

    // Brute-force cosine top-k (exact ANN baseline): top 10 neighbors of
    // vec_id=0. Scan → TakeOrderedAndProject; ids+rank only (float-safe).
    // Rank is assigned by sorting the 10 surviving rows as an array —
    // no unpartitioned window anywhere in the plan.
    "x_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val scored = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qv")).as("c"))
        // a zero vector has NaN cosine; Spark sorts NaN above every
        // number, so without this filter the top-k selection (desc:
        // NaN first) and the rank sort below (asc on -c: NaN last)
        // would disagree — exclude undefined similarities outright
        .filter(!isnan(col("c")))
        .orderBy(col("c").desc, col("vec_id").asc)
        .limit(10)
      scored
        .agg(sort_array(collect_list(
          struct((-col("c")).as("nc"), col("vec_id").as("vec_id")))).as("xs"))
        .select(posexplode(col("xs")))
        .select(col("col.vec_id").as("vec_id"),
          (col("pos") + 1).cast(IntegerType).as("rank"))
    }),

    // Int8 scalar quantization over the embedding store (the 4×
    // compression step before ANN serving). Exactness-by-construction
    // outputs: max_abs is an element value (no accumulation), sum_q a
    // BIGINT sum — both bit-deterministic across engines.
    "x_embed_quantize" -> ((s, d) => {
      val q = Similarity.int8Quantize(col("embedding"))
      // widened: the per-row quantize kernel, not the scan, is the cost
      widen(t(s, d, "embeddings")).select(
        col("vec_id"),
        q.getField("max_abs").as("max_abs"),
        aggregate(q.getField("q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
        size(col("embedding")).cast(LongType).as("n_dims"))
    }),

    // Per-label embedding centroids, surfaced through the integer-exact
    // stage: int8-quantized element sums per (label, position) — the
    // same posexplode → map-side-combined (key, pos) agg plan as
    // Centroids.groupCentroids (double sums are addition-order-
    // dependent, so the float centroid itself can't hash-match; the
    // quantized sums can, and IvfSpec pins the float path). The k-means
    // refinement built on this aggregation is spec-asserted monotone.
    "x_embed_centroids" -> ((s, d) => {
      val q = Similarity.int8Quantize(col("embedding")).getField("q")
      // widened: the per-row quantize + element-sum HOF is the cost
      widen(t(s, d, "embeddings"))
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("label").cast(LongType).as("label"),
          posexplode(q).as(Seq("pos", "qv")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("qv")).as("sum_q"), count(lit(1)).as("n_vecs"))
        .select(col("label"), col("pos").cast(LongType).as("pos"),
          col("sum_q"), col("n_vecs"))
    }),

    // LSH-bucketed ANN — rows-only; recall vs brute force asserted in
    // SimilaritySpec.
    "x_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.lshTopK(emb, "vec_id", "embedding", queries, "qid", "qv", k = 10)
        .select(col("query_id"), col("id"), col("rank"))
    }),

    // Exact kNN graph — ORACLE-ONLY status: the deliberate n² ground
    // truth that x_knn_graph_ann (the production column) and
    // x_knn_graph_recall audit against; at scale it runs on sampled
    // slices, never the corpus. Rank emission only (same engine-local-
    // float contract as x_cosine_topk); n² pairs shuffle once into
    // per-query k-row heaps.
    "x_knn_graph" -> ((s, d) =>
      exactKnnGraph(s, d)
        .select(col("query_id"), col("id"),
          col("rank").cast(IntegerType).as("rank"))),

    // PRODUCTION kNN graph — the scale path x_knn_graph is the recall
    // oracle FOR: LSH-banded capped-bucket candidates (candidate-
    // proportional, never n²), ONE exact-cosine eval per undirected
    // pair, per-query top-5 heaps. Oracle = committed corpus-keyed
    // golden replay (tools/gen_lsh_golden.py knn_graph_ann).
    "x_knn_graph_ann" -> ((s, d) =>
      Similarity.knnGraphApprox(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("id"),
          col("rank").cast(IntegerType).as("rank"))),

    // Recall@5 audit of the production graph vs the exact oracle graph
    // (integer hits/k per query; a query the ANN graph missed entirely
    // shows n_hits = 0, never silently drops). The n² side is the
    // AUDIT's cost by design — at 100 TB it runs on a sampled slice.
    "x_knn_graph_recall" -> ((s, d) => {
      val ann = Similarity.knnGraphApprox(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(ann, exactKnnGraph(s, d))
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // Semi-supervised label spread: one-hop majority vote over the
    // shared exact kNN graph (ties → smallest label) — extends a
    // labeled seed set across the embedding corpus, and doubles as the
    // leave-one-out kNN-classifier audit since the graph never emits
    // self-edges. Graph- and vertex-bounded joins/aggs only; the n²
    // graph build is the session-shared oracle artifact, not this
    // entry's cost.
    "x_label_propagation" -> ((s, d) =>
      Similarity.propagateLabels(
        exactKnnGraph(s, d),
        t(s, d, "embeddings").select(col("vec_id").as("id"), col("label")))
        .select(col("query_id"), col("label_pred"), col("n_votes"))),

    // Recall fairness across labels: the kNN-graph recall@5 audit
    // split by the query's class — an index whose recall skews by
    // label silently under-retrieves whole classes (cells/bands built
    // from the majority class's geometry). The n² leg is the exact
    // oracle graph, session-shared; everything after is ≤|labels| rows.
    "x_recall_by_label" -> ((s, d) => {
      val ann = Similarity.knnGraphApprox(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(ann, exactKnnGraph(s, d))
        .join(t(s, d, "embeddings").select(col("vec_id").as("query_id"),
          col("label").cast(LongType).as("label")), "query_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("n_hits"),
          sum(col("k")).as("n_possible"))
    }),

    // Hubness audit of the production kNN graph: in-degree histogram
    // including never-retrieved vectors (in-degree 0 via the left
    // join) — a handful of hub vectors absorbing most edges is the
    // classic high-dimensional ANN pathology (they dominate every
    // candidate list and crowd out true neighbors), and orphans mark
    // corpus regions the index cannot surface at all. One count agg
    // over the edge list, one key join against the id column.
    "x_ann_degree_hist" -> ((s, d) => {
      val deg = Similarity.knnGraphApprox(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
        .groupBy(col("id")).agg(count(lit(1)).as("in_degree"))
      t(s, d, "embeddings").select(col("vec_id").as("id"))
        .join(deg, Seq("id"), "left")
        .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
        .groupBy(col("in_degree")).agg(count(lit(1)).as("n_vecs"))
    }),

    // IVF-cell ANN — the cell-probing scale path (corpus partitioned by
    // centroid cell; queries probe nProbe cells). Rows-only; recall vs
    // brute force asserted in IvfSpec.
    "x_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, nlist = 64, nProbe = 8)
        .select(col("query_id"), col("id"), col("rank"))
    }),

    // Embedding-space DIVERSITY sample: ≤ 3 representatives per IVF
    // cell in deterministic hash order — stratified semantic coverage
    // (a uniform sample over-represents dense regions; per-cell picks
    // keep the tails). The per-cell cut is a WindowGroupLimit; oracle
    // = committed corpus-keyed golden replay (gen_hash_goldens.py).
    "x_diversity_sample" -> ((s, d) =>
      graft.operators.Ivf.diversitySample(
        t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 64, perCell = 3)),

    // Recall@10 of the IVF probe vs exact brute force — the index
    // eval every ANN deployment gates on. Integer (hits, k) per
    // query; the IVF side replays the committed corpus-keyed golden,
    // the exact side is the same brute-force rank SQL as x_knn_graph.
    // IVF cell-population histogram: the partition-balance read
    // before a `partitionBy(cell)` index layout (a giant cell defeats
    // probe pruning; many empty cells waste list overhead) — the IVF
    // counterpart of x_minhash_bucket_hist. Verified against the
    // kernel-replay golden.
    "x_ivf_cell_hist" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding",
        nlist = 64)
      graft.operators.Ivf.assign(emb, "embedding", idx)
        .groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
        .groupBy(col("cell_size")).agg(count(lit(1)).as("n_cells"))
    }),

    // Index-vs-label alignment audit: per IVF cell, total vectors and
    // the majority label with its count — how well the coarse
    // quantizer's geometry lines up with the supervised labels (low
    // purity = cells mix classes; fine for ANN recall, a red flag if
    // cells were about to be reused as cheap pseudo-labels).
    // Max-struct majority (ties to the smaller label); everything
    // after the assign kernel is bounded by nlist × |labels|.
    "x_ivf_label_purity" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding",
        nlist = 64)
      graft.operators.Ivf.assign(emb, "embedding", idx)
        .groupBy(col("cell").cast(LongType).as("cell"),
          col("label").cast(LongType).as("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(sum(col("n")).as("n_vecs"),
          max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
        .select(col("cell"), col("n_vecs"),
          (-col("m.nl")).as("top_label"), col("m.n").as("top_label_n"))
    }),

    // ANN tuning curve: recall@10 at nProbe 2/4/8 against the live
    // exact top-k — the probes-vs-recall trade a 100 TB deployment
    // reads before fixing nProbe (each probe level scans
    // nProbe/nlist of the corpus). The IVF index and the corpus cell
    // assignment are nProbe-independent, so they are built ONCE and
    // probed three times (the pre-r18 form rebuilt both per level:
    // 2 redundant corpus passes for bit-identical cells); the shared
    // exact leg — the one corpus-proportional subtree — is referenced
    // ONCE via the tagged recall join instead of once per level.
    "x_ann_probe_sweep" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Similarity.batchTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10)
      val index = graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding",
        nlist = 64)
      val assigned = graft.operators.Ivf.assign(
        emb.select(col("vec_id").as("id"), col("embedding").as("v")),
        "v", index)
      Similarity.recallAtKTagged(
          Seq(2, 4, 8).map { p =>
            lit(p.toLong) -> graft.operators.Ivf.ivfTopKWith(assigned,
              queries, "qid", "qv", index, k = 10, nProbe = p)
          }, exact, tagCol = "n_probe")
        .select(col("n_probe"), col("query_id"), col("n_hits"), col("k"))
    }),

    "x_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val ann = graft.operators.Ivf.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, nlist = 64, nProbe = 8)
      val exact = Similarity.batchTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10)
      Similarity.recallAtK(ann, exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // INT8-quantized retrieval scan (the serving path of a 4×-
    // compressed embedding store): per-query top-10 by the exact
    // integer dot of int8 codes. Every score is 64-bit-integer-exact,
    // so unlike every other ANN entry this one is DuckDB-verifiable
    // end to end with NO replay goldens — the oracle recomputes codes
    // and integer dots directly. One corpus scan, queries broadcast,
    // partial WindowGroupLimit per query.
    "x_ann_int8" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.int8TopK(emb, "vec_id", "embedding", queries, "qid", "qv",
          k = 10)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    }),

    // What the 4× compression costs: recall@10 of the int8 scan
    // against the exact float inner-product top-10 (both sides MIPS,
    // so the comparison isolates QUANTIZATION loss — not the
    // dot-vs-cosine objective gap). Integers only in the output. The
    // exact leg rides exactTopKSample (metric="dot") under the
    // standing audit cap — identity here, the bounded sampled slice
    // at scale.
    "x_int8_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val q8 = Similarity.int8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10)
      val exact = Similarity.exactTopKSample(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "dot")
      Similarity.recallAtK(q8, exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // BINARY-quantized retrieval — the bottom rung of the compression
    // ladder (float32 → int8 4× → PQ 32× → sign bits, 1 bit/dim: a
    // dim-64 vector serves from 8 bytes, byte-for-byte parity with
    // m=8 PQ codes but a popcount-only scoring kernel): per-query
    // top-10 by the exact integer Hamming distance over 32-bit sign
    // words. Packing keeps every word < 2^32, so codes, distances and
    // ranking re-derive in checked-arithmetic SQL with NO replay
    // goldens (a 64-bit word's top bit would wrap in Java but ERROR
    // in DuckDB — Kernels.signWords scaladoc).
    "x_ann_bq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.binaryTopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 10)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("hamming"))
    }),

    // What 1 bit/dim costs: recall@10 of the Hamming scan against the
    // exact float COSINE top-10 — sign bits are scale-invariant, so
    // angle (not MIPS) is the objective binary codes approximate; the
    // int8/PQ audits rank against dot, this one against cosine, and
    // the objective difference is part of the rung's contract. The
    // exact leg rides exactTopKSample under the standing audit cap —
    // identity here, the bounded sampled slice at 100 TB. Third point
    // on the quantization-loss curve: int8 6–9/10, PQ 3–5/10, BQ here
    // (heavy Hamming ties make the id tie-break do real work — that
    // arbitrariness is PART of what 1-bit serving costs).
    "x_bq_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val bq = Similarity.binaryTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10)
      val exact = Similarity.exactTopKSample(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "cosine")
      Similarity.recallAtK(bq, exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // MATRYOSHKA truncation audit — the other axis of the compression
    // trade (fewer DIMS instead of fewer bits/dim; Kusupati et al.,
    // "Matryoshka Representation Learning", NeurIPS 2022 serve
    // prefix-truncated embeddings exactly this way): recall@10 of the
    // int8 integer-dot ranking over the first d ∈ {16, 32, 64} stored
    // dims vs the full-dim (d=64) ranking — what a 4×/2×/1× prefix
    // slice of the SAME persisted int8 store costs, the number that
    // decides a coarse-rerank serving split (route with d=16, rerank
    // survivors at d=64, never re-reading floats). Quantization is
    // per-vector over the FULL vector (truncating stored codes, not
    // re-quantizing the prefix), every score an exact BIGINT dot, so
    // the whole grid re-derives in SQL with no goldens; the d=64 row
    // is the identity sanity rail (n_hits = k by construction). One
    // corpus scan; the 3× in-row dim expansion explodes AFTER the
    // broadcast join, and each (d, query) group cuts via the partial
    // WindowGroupLimit like every top-k in the family.
    "x_mrl_recall" -> ((s, d) => {
      val embAll = t(s, d, "embeddings")
      // the whole grid runs on the bounded audit slice (identity at
      // the test SFs, the scale route beyond — auditCorpusSlice
      // scaladoc); queries come from the full corpus so the batch is
      // stable whatever the slice picks
      val emb = auditCorpusSlice(embAll, "vec_id")
      val codes = emb.select(col("vec_id"),
        Similarity.int8Quantize(col("embedding")).getField("q").as("cq"))
      val qs = embAll.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          Similarity.int8Quantize(col("embedding")).getField("q").as("qq"))
      val dims = array(Seq(16, 32, 64).map(lit): _*)
      val scored = codes.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          explode(transform(dims, dd => struct(dd.as("d"),
            graft.functions.VectorFunctions.dotLong(
              slice(col("cq"), lit(1), dd),
              slice(col("qq"), lit(1), dd)).as("dot")))).as("s"))
        .select(col("query_id"), col("vec_id"),
          col("s.d").as("d"), col("s.dot").as("dot"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("d"), col("query_id"))
        .orderBy(col("dot").desc, col("vec_id").asc)
      val ranked = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("d"), col("query_id"), col("vec_id"))
      // the d=64 reference ranking is a FILTER of this same frame — a
      // self-join against it evaluated the corpus-slice subtree twice
      // (Catalyst shares nothing across the two references, r18 plan
      // audit: 4 slice scans, SMJ LeftOuter). A row's hit flag is
      // "does my (query, vec) also appear at d=64", i.e. a window max
      // over the ALREADY top-k-bounded frame (≤ |q|·3·10 rows) — one
      // evaluation, one tiny exchange, no join.
      val wHit = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("vec_id"))
      ranked
        .withColumn("__hit",
          max(when(col("d") === 64, lit(1L)).otherwise(lit(0L))).over(wHit))
        .groupBy(col("d"), col("query_id"))
        .agg(sum(col("__hit")).as("n_hits"), count(lit(1)).as("k"))
        .select(col("d"), col("query_id"), col("n_hits"), col("k"))
    }),

    // TWO-STAGE 1-bit serving — the production shape that makes the
    // bottom rung usable (oversample + rescore: route with 8-byte
    // binary codes, rescore the shortlist at int8): Hamming top-100
    // shortlist → exact integer-dot rerank → top-10, audited against
    // the same exact-cosine leg as x_bq_recall so the two entries
    // read as one experiment — what popcount routing loses raw vs
    // what a 10× oversampled rescoring pass buys back. The rerank
    // touches full-precision codes for shortlisted ids ONLY
    // (candidate-bounded broadcast join — Similarity.int8RerankTopK
    // scaladoc); floats never leave the store. All-integer both
    // stages ⇒ fully SQL-re-derivable, no goldens.
    "x_bq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val shortlist = Similarity.binaryTopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 100)
        .select(col("query_id"), col("id"))
      val reranked = Similarity.int8RerankTopK(shortlist,
        emb, "vec_id", "embedding", queries, "qid", "qv", k = 10)
      val exact = Similarity.exactTopKSample(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "cosine")
      Similarity.recallAtK(reranked, exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // ADAPTIVE RETRIEVAL on the matryoshka axis (Kusupati et al.'s
    // serving recipe): shortlist top-100 by the d=16 prefix of the
    // int8 codes (a 4× cheaper routing scan over the SAME store),
    // rerank the shortlist with the full d=64 codes, audit recall@10
    // against the full-dim int8 ranking — the x_mrl_recall grid told
    // us what a d=16 prefix costs raw (1–4/10); this entry measures
    // the same prefix as a ROUTER with full-dim rescoring. Both
    // stages integer-exact ⇒ closed-form oracle.
    "x_mrl_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val codes = emb.select(col("vec_id"),
        Similarity.int8Quantize(col("embedding")).getField("q").as("cq"))
      val qs = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("cq").as("qq"))
      val w16 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("d16").desc, col("id").asc)
      val shortlist = codes.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id").as("id"),
          graft.functions.VectorFunctions.dotLong(
            slice(col("cq"), lit(1), lit(16)),
            slice(col("qq"), lit(1), lit(16))).as("d16"))
        .withColumn("rn", row_number().over(w16)).filter(col("rn") <= 100)
        .select(col("query_id"), col("id"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val reranked = Similarity.int8RerankTopK(shortlist,
        emb, "vec_id", "embedding", queries, "qid", "qv", k = 10)
      val ref = Similarity.int8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10)
      Similarity.recallAtK(reranked, ref)
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // THE QUANTIZATION PARETO TABLE — the whole compression ladder in
    // one frame, every rung measured against the SAME exact float
    // cosine ground truth (unlike the per-family audits, which each
    // rank against their family's native objective): method,
    // bytes/vector, recall@10 hits summed over the query batch.
    // f32_exact anchors the table (n_hits = k by construction);
    // int8 (64 B), matryoshka prefixes of the int8 store (32/16 B),
    // flat PQ m=8 (8 B, shared pq_top10 artifact), binary sign words
    // (8 B). THE table a platform team reads to pick a serving rung
    // at 100 TB — every leg is a candidate-bounded top-10 frame
    // (≤ queries×10 rows) before the union, so the summary costs no
    // more than its rungs; integer/cosine-exact legs keep the whole
    // thing oracle-re-derivable with no goldens.
    "x_ann_pareto" -> ((s, d) => {
      val embAll = t(s, d, "embeddings")
      // every rung AND the exact leg run on the SAME bounded audit
      // slice (identity at the test SFs — auditCorpusSlice scaladoc):
      // an audit that scans the full corpus per rung is the one
      // operation here with no index to hide behind at 100 TB
      val emb = auditCorpusSlice(embAll, "vec_id")
      val queries = embAll.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val codes = emb.select(col("vec_id"),
        Similarity.int8Quantize(col("embedding")).getField("q").as("cq"))
      val qs = embAll.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          Similarity.int8Quantize(col("embedding")).getField("q").as("qq"))
      def prefixTop(dd: Int): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("dot").desc, col("id").asc)
        codes.crossJoin(broadcast(qs))
          .select(col("query_id"), col("vec_id").as("id"),
            graft.functions.VectorFunctions.dotLong(
              slice(col("cq"), lit(1), lit(dd)),
              slice(col("qq"), lit(1), lit(dd))).as("dot"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
          .select(col("query_id"), col("id"))
      }
      def ids(df: DataFrame): DataFrame = df.select(col("query_id"), col("id"))
      val exact = ids(Similarity.exactTopKSample(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "cosine"))
      // the PQ rung rides the session-shared full-corpus artifact
      // while the slice is the identity (every test SF); past the cap
      // it re-derives over the slice — a bounded (≤ cap-row) rebuild,
      // so the rung stays slice-consistent with the other legs. The
      // row-count gate is a real Spark job (file listing + footer
      // reads, growing with file count), so it is memoized per dataset
      // dir — one count per dir per session, not one per timed rep.
      val pqLeg =
        if (embeddingsCount(s, d) <= exactAuditMaxCorpus)
          pqTop10(s, d).select(col("query_id"), col("id"))
        else ids(graft.operators.Pq.pqTopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", m = 8, ncode = 256, k = 10))
      val legs = Seq(
        ("f32_exact", 256, exact),
        ("int8", 64, ids(Similarity.int8TopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 10))),
        ("mrl32", 32, prefixTop(32)),
        ("mrl16", 16, prefixTop(16)),
        ("pq_m8", 8, pqLeg),
        ("bq", 8, ids(Similarity.binaryTopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 10))))
      // the exact leg IS one of the union's rungs, so joining the
      // union back against it evaluated the brute-force subtree twice
      // (leg + hits side; Catalyst shares nothing across the two
      // references — r18 plan audit: SMJ LeftOuter over ≤ 300 rows).
      // A row's hit flag is "does my (query, id) also appear in the
      // f32_exact rung" — a window max over the already top-k-bounded
      // union: one evaluation per rung, one tiny exchange, no join.
      val wHit = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("id"))
      legs.map { case (m, b, df) =>
          df.withColumn("method", lit(m)).withColumn("bytes_per_vec", lit(b))
        }.reduce(_ unionByName _)
        .withColumn("__hit",
          max(when(col("method") === "f32_exact", lit(1L)).otherwise(lit(0L)))
            .over(wHit))
        .groupBy(col("method"), col("bytes_per_vec"))
        .agg(sum(col("__hit")).as("n_hits"), count(lit(1)).as("k"))
        .select(col("method"), col("bytes_per_vec"), col("n_hits"), col("k"))
    }),

    // PRODUCT-QUANTIZED retrieval (the third rung of the compression
    // ladder: float32 → int8 → PQ codes; 32× at m=8/ncode=256 on
    // dim-64): per-query top-10 by the exact integer ADC score —
    // Σⱼ dot(int8 query subvector j, codeword[j][docᵢ's code j]).
    // Codebooks are hash-sampled int8 subvectors (the deterministic
    // IVF coarse-quantizer trick per subspace), encoding is exact
    // integer L2 argmin, scores exact BIGINT sums — so like x_ann_int8
    // the oracle re-derives codebook, codes, LUTs and ranking end to
    // end with NO replay goldens. Serving scans m-byte codes only;
    // the LUT is m×ncode longs per query, plan-bounded.
    "x_ann_pq" -> ((s, d) => {
      pqTop10(s, d)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("adc_dot"))
    }),

    // What the 32× compression costs: recall@10 of the PQ-ADC scan
    // against the exact float inner-product top-10 — the x_int8_recall
    // audit one rung further down the ladder, so the pair of entries
    // reads as the quantization-loss curve (float → int8 → PQ). Exact
    // leg rides exactTopKSample (metric="dot") under the standing
    // audit cap.
    "x_pq_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Similarity.exactTopKSample(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "dot")
      Similarity.recallAtK(pqTop10(s, d), exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // TWO-STAGE PQ serving — the oversample-and-rescore split for the
    // 8-byte pareto winner (x_bq_rerank gave the binary rung its
    // rerank split, x_mrl_rerank the matryoshka rung; the raw-ADC PQ
    // rung was the one serving shape without one): ADC top-100
    // shortlist over the m=8 codes → exact int8 integer-dot rescore
    // of the shortlist ONLY (candidate-bounded broadcast join,
    // Similarity.int8RerankTopK — full-precision codes are touched
    // for ≤ queries×100 ids, floats never leave the store) → top-10,
    // audited against the same exact float-dot leg as x_pq_recall so
    // the pair reads as one experiment: what 8-byte ADC routing loses
    // raw vs what a 10× oversampled int8 rescoring pass buys back.
    // All-integer both stages ⇒ fully SQL-re-derivable, no goldens.
    "x_pq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val shortlist = graft.operators.Pq.adcTopK(pqIndex(s, d),
          queries, "qid", "qv", k = 100)
        .select(col("query_id"), col("id"))
      val reranked = Similarity.int8RerankTopK(shortlist,
        emb, "vec_id", "embedding", queries, "qid", "qv", k = 10)
      val exact = Similarity.exactTopKSample(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "dot")
      Similarity.recallAtK(reranked, exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    }),

    // QUANTIZER-REFRESH AUDIT — the numbers that tell a deployment
    // WHAT a grown index's frozen quantizers cost and WHETHER a
    // retrain would recover it. Centroids/codebooks are FROZEN on
    // append by design (reproducibility); this entry appends a
    // genuinely shifted increment (the corpus folded into the
    // positive orthant under disjoint ids — refreshAuditIndexDir) to
    // a base-trained IVF-PQ index and reports recall@10 against the
    // exact float-dot truth over the union for THREE probe legs:
    // `frozen_base` (frozen index, undrifted queries — the healthy
    // baseline), `frozen` (frozen index, drifted queries — the decay:
    // measured ~2-3x below baseline at sf0.1), and `fresh` (index
    // retrained on the union, drifted queries — the refresh gain).
    // MEASURED FINDING, stated not hidden: fresh − frozen ≈ 0 here,
    // because the repo's quantizers are hash-SAMPLED — distribution-
    // agnostic by construction (the reproducibility tradeoff made
    // visible); the exhaustive-probe diagnostic attributes the decay
    // to codebook fit, not routing. The audit is the deliverable: a
    // deployment swapping in density-adaptive quantizers (k-means
    // refinement) reads the retrain trigger off the same three legs.
    // Integer hits, closed-form oracle (both quantizer derivations
    // are the hash-sampled minima the PQ oracles already re-derive —
    // one over base ids, one over the union). io-classified: three
    // persisted-index probes per run; the index builds are a staged
    // per-dir artifact.
    "x_ann_refresh_gain" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val inc = driftedIncrement(emb)
      val union = emb.unionByName(inc)
      val root = java.nio.file.Paths.get(refreshAuditIndexDir(s, d))
      val drifted = inc.filter(col("vec_id") < 10000020L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val base = emb.filter(col("vec_id") < 20L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // read each persisted index's quantizer side tables ONCE per
      // execution (two of the three legs probe the same frozen/ index)
      val frozenIdx = graft.operators.Pq.readIndex(s,
        root.resolve("frozen").toString)
      val freshIdx = graft.operators.Pq.readIndex(s,
        root.resolve("fresh").toString)
      def exactOf(qs2: DataFrame): DataFrame =
        Similarity.exactTopKSample(union, "vec_id", "embedding",
          qs2, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
          metric = "dot")
      def probe(idx: graft.operators.Pq.PqIndex, qs2: DataFrame): DataFrame =
        graft.operators.Pq.probeIndex(idx, qs2, "qid", "qv",
          k = 10, nProbe = 8)
      // the frozen and fresh legs audit the SAME drifted queries
      // against the SAME exact frame — the tagged recall join
      // references that union-sized brute-force subtree ONCE for both
      // (the per-leg form evaluated it once per leg)
      Similarity.recallAtK(probe(frozenIdx, base), exactOf(base))
        .withColumn("variant", lit("frozen_base"))
        .unionByName(Similarity.recallAtKTagged(
          Seq(lit("frozen") -> probe(frozenIdx, drifted),
            lit("fresh") -> probe(freshIdx, drifted)),
          exactOf(drifted), tagCol = "variant"))
        .select(col("variant"), col("query_id"), col("n_hits"), col("k"))
    }),

    // THE RETRAIN LEVER the r17 audit lacked: x_ann_refresh_gain
    // measured that retraining HASH-SAMPLED quantizers on the drifted
    // union recovers nothing (fresh 22 < frozen 29 hits — they are
    // distribution-agnostic by construction). This entry probes the
    // DENSITY-ADAPTIVE retrain instead: the same drifted queries and
    // exact float-dot truth, against `adaptive/` — an IVF-PQ index
    // whose codebooks and coarse centroids were integer-Lloyd-refined
    // on the union (Pq.buildIndex refineIters, the all-integer k-means
    // whose every step is bit-replayable). Output is the frozen leg
    // (re-derived closed-form, same as x_ann_refresh_gain) next to the
    // retrained leg, so the pair reads as the refresh decision: at
    // sf0.1 the adaptive retrain must EXCEED frozen where hash-sampled
    // retraining could not — the audit instrument finally has a lever.
    // Oracle: exact leg + frozen leg closed-form; the adaptive probe's
    // top-10 lists come from the committed corpus-keyed golden
    // (tools/gen_pq_adaptive_golden.py re-derives quantize → init →
    // integer Lloyd → encode → route → ADC in exact integer arithmetic
    // — k-means is not one SQL pass, but it IS bit-replayable).
    // io-classified: two persisted-index probes per run; index builds
    // are the staged refresh_audit_indexes artifact.
    "x_refresh_adaptive" -> ((s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val inc = driftedIncrement(emb)
      val union = emb.unionByName(inc)
      val root = java.nio.file.Paths.get(refreshAuditIndexDir(s, d))
      val drifted = inc.filter(col("vec_id") < 10000020L)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Similarity.exactTopKSample(union, "vec_id", "embedding",
        drifted, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "dot")
      // both legs audit the same queries against the ONE shared exact
      // frame — tagged recall references it once, not once per leg
      def probe(sub: String): DataFrame =
        graft.operators.Pq.probeIndex(
          graft.operators.Pq.readIndex(s, root.resolve(sub).toString),
          drifted, "qid", "qv", k = 10, nProbe = 8)
      Similarity.recallAtKTagged(
          Seq(lit("frozen") -> probe("frozen"),
            lit("retrained") -> probe("adaptive")),
          exact, tagCol = "variant")
        .select(col("variant"), col("query_id"), col("n_hits"), col("k"))
    }),

    // The ALL-INTEGER composed serving stack (FAISS's IndexIVFPQ
    // shape): IVF coarse routing by integer squared-L2 over full int8
    // codes (hash-sampled centroids, salt 7; the standard L2 coarse
    // quantizer) narrows each query to 8 of 64 cells, then PQ-ADC
    // integer dots rank only those cells' m-byte codes. ZERO float
    // comparisons anywhere — routing, encoding and scoring are all
    // BIGINT-exact, so unlike the float-cosine-routed x_ann_ivf_int8
    // this composition needs NO replay golden: the oracle re-derives
    // centroids, cells, probes, codebook, codes, LUTs and ranking.
    // Candidate volume ∝ probed-cell occupancy; at scale the encoded
    // corpus persists partitionBy(cell) (the writeInt8Index layout
    // with 8-byte PQ codes), so probes read ~nProbe/nlist of the data.
    "x_ann_ivf_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Pq.adcTopK(pqIndex(s, d),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("adc_dot"))
    }),

    // The PERSISTED serving split of the same composition — write the
    // IVF-PQ index to disk (tinyint codebook/centroids/codes, codes
    // shifted −128 for the honest 1-byte-per-subspace layout,
    // partitioned by cell, meta-validated), then answer the query
    // batch by reading ONLY the probed cells' code files (partition-
    // pruned `cell IN (...)`, PqSpec-asserted) and ranking by the
    // exact integer ADC dot. Scores and ranking are BIT-IDENTICAL to
    // the in-session x_ann_ivf_pq (same quantizers; integer scoring
    // has no accumulation-order freedom), so the entry shares its
    // golden-free oracle. io-classified: the probe reads the cells'
    // code files from disk each run. The index WRITE is the per-dir
    // served_pq_index artifact (build-once-probe-many is the
    // production cost model — the write cost lands in artifact_sec,
    // the corpus-refresh bucket, instead of every timed rep); probes
    // never mutate it, so the entry reads the stage directly.
    "x_pq_index_probe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxPath = servedPqIndexDir(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Pq.probeIndex(graft.operators.Pq.readIndex(s, idxPath),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("adc_dot"))
    }),

    // The APPEND workflow of the persisted IVF-PQ index — the
    // corpus-refresh shape, mirroring x_ann_index_grow for the PQ
    // rung: seed the index with EXACTLY the two hash-sample minima
    // sets (codebook = the 256 smallest (hashRank, id), coarse
    // quantizer = the 64 smallest (hashRank salt-7, id) — the
    // quantizer-training sample, ≤ 320 ids collected via two
    // TakeOrdered cuts, plan-constant at any corpus size), append
    // everything else (encoded + routed under the FROZEN seed
    // quantizers — Pq.writeIndex append contract), probe. grown ==
    // fresh-full PROVABLY: each sampling order is a total order over
    // the corpus whose first-n prefix the seed owns by construction,
    // so the seed build picks the identical codebook and centroids to
    // a full-corpus build, and per-vector encoding under equal
    // quantizers is corpus-independent — the entry shares
    // ivfPqOracleSql verbatim (PqSpec pins the grown == fresh probe
    // equality mechanism at small params). io-classified: pays two
    // index writes + the probe read.
    "x_pq_index_grow" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_pq_grow_run_${ProcessHandle.current().pid()}_" +
          s"${streamRun.incrementAndGet()}")
      Option(lastIngestWork.put("x_pq_index_grow", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val idxPath = work.resolve("idx").toString
      val ranked = emb.select(col("vec_id"),
        graft.operators.Sampling.hashRank(col("vec_id")).as("h0"),
        graft.operators.Sampling.hashRank(col("vec_id"), salt = 7L).as("h7"))
      // two independent TakeOrdered cuts over the same skinny
      // projection — overlap them so the second's scan back-fills the
      // first's straggler tail (guide §2.6)
      var cbIds: Array[Long] = null
      var ctIds: Array[Long] = null
      graft.operators.Actions.runConcurrently(
        () => cbIds = ranked.orderBy(col("h0"), col("vec_id")).limit(256)
          .select("vec_id").collect().map(_.getLong(0)),
        () => ctIds = ranked.orderBy(col("h7"), col("vec_id")).limit(64)
          .select("vec_id").collect().map(_.getLong(0)))
      val seedIds = (cbIds ++ ctIds).distinct.toSeq // ≤ 320 — plan-constant
      graft.operators.Pq.writeIndex(
        emb.filter(col("vec_id").isin(seedIds: _*)),
        "vec_id", "embedding", idxPath, mode = "overwrite")
      graft.operators.Pq.writeIndex(
        emb.filter(!col("vec_id").isin(seedIds: _*)),
        "vec_id", "embedding", idxPath, mode = "append")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Pq.probeIndex(graft.operators.Pq.readIndex(s, idxPath),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("adc_dot"))
    }),

    // The COMPOSED serving path — IVF routing (coarse quantizer
    // narrows each query to 8 of 64 cells) + int8 integer-dot scoring
    // over the candidates: what an ANN deployment actually runs at
    // 100 TB (read compressed codes of probed cells only; raw floats
    // never leave the index build). Candidate volume ∝ probed-cell
    // occupancy; one (query,id) row per candidate by construction (a
    // vector lives in exactly one cell). Verified against the
    // committed kernel-replay golden (routing) with bit-exact integer
    // scores.
    "x_ann_ivf_int8" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfInt8TopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 10, nlist = 64, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    }),

    // The PERSISTED serving split of the same composition: build the
    // int8 IVF index on disk (centroids + per-cell tinyint codes,
    // meta-validated), then answer the query batch by reading ONLY the
    // probed cells' code files (partition-pruned `cell IN (...)` —
    // plan-asserted in IvfSpec) and ranking by the exact integer dot.
    // Scores and ranking are BIT-IDENTICAL to the in-session
    // x_ann_ivf_int8 (same assignment + quantization projection,
    // integer scoring has no accumulation-order freedom), so this
    // entry shares its corpus-keyed kernel-replay golden. io-classified:
    // the probe reads the probed cells' code files from disk each run.
    // The index BUILD is the per-dir served_ivf_index artifact — a
    // 100 TB deployment pays the build once per corpus refresh
    // (artifact_sec) and THIS probe shape per query batch; probes
    // never mutate the index, so the entry reads the stage directly.
    "x_ann_index_probe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idxPath = servedIvfIndexDir(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfInt8ProbeIndex(s, idxPath,
          graft.operators.Ivf.readInt8Index(s, idxPath),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    }),

    // The APPEND workflow of the persisted int8 index — the
    // corpus-refresh shape: seed the index on a subset, grow it with
    // the rest via `mode="append"` (the increment is assigned and
    // quantized under the FROZEN seed centroids — Ivf.writeInt8Index
    // scaladoc), probe the grown index. grown == fresh-full by
    // construction HERE: centroids are the nlist minimal-xxhash64 ids
    // of the build corpus, and the seed half is exactly the
    // negative-hash rows — a set that provably contains the FULL
    // corpus's nlist hash-minima whenever it has >= nlist members
    // (the signed minima are all negative), so the seed build and a
    // full-corpus build pick identical centroids, quantization is
    // per-vector, and the probe shares x_ann_ivf_int8's kernel-replay
    // golden. IvfSpec pins the centroid equality on the real files so
    // a regenerated corpus fails `sbt test` loudly, never silently.
    // io-classified: pays two index writes + the probe read.
    "x_ann_index_grow" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_ivf_grow_run_${ProcessHandle.current().pid()}_" +
          s"${streamRun.incrementAndGet()}")
      Option(lastIngestWork.put("x_ann_index_grow", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val idxPath = work.resolve("idx").toString
      val h = xxhash64(col("vec_id"))
      graft.operators.Ivf.writeInt8Index(emb.filter(h < 0),
        "vec_id", "embedding", idxPath, nlist = 64, mode = "overwrite")
      graft.operators.Ivf.writeInt8Index(emb.filter(h >= 0),
        "vec_id", "embedding", idxPath, nlist = 64, mode = "append")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfInt8ProbeIndex(s, idxPath,
          graft.operators.Ivf.readInt8Index(s, idxPath),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    }),

    // INDEX COMPACTION/REPACK — the maintenance operator a 100 TB
    // continuous ingest needs: after N append cycles the persisted
    // index fragments (one file wave per cell/band dir per batch —
    // the small-file problem, inside an index layout that also
    // carries meta.txt and the replay marker). This entry repacks a
    // 4-increment fragmented int8 IVF index (the staged
    // fragmented_ivf_index artifact) into a fresh directory
    // (IndexCompaction.compactIndex — layout-aware: partition
    // columns, meta, marker all preserved) and probes the COMPACTED
    // index. Compaction permutes file placement only — every posting
    // row survives unchanged and the probe ranks with a total tie
    // order — and the fragmented index equals a fresh-full build by
    // the x_ann_index_grow construction, so the probe shares the
    // fresh-index kernel-replay golden: bit-identical or the entry
    // fails. io-classified: pays the repack write + probe read.
    // IndexCompactionSpec asserts the file-count reduction and the
    // MinHash-layout equivalents.
    "x_index_compact" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_idx_compact_run_${ProcessHandle.current().pid()}_" +
          s"${streamRun.incrementAndGet()}")
      Option(lastIngestWork.put("x_index_compact", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val compacted = work.resolve("idx").toString
      graft.sources.IndexCompaction.compactIndex(
        s, fragmentedIvfIndexDir(s, d), compacted)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfInt8ProbeIndex(s, compacted,
          graft.operators.Ivf.readInt8Index(s, compacted),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    }),

    // The MINHASH leg of index compaction, driver-visible (r17 verdict
    // #6 — the layout was ScalaTest-only): repack the staged seed
    // MinHash index (bands/ re-packed one file per band dir, shingles/
    // per shard, meta + marker preserved — IndexCompaction.compactIndex
    // detects the layout from meta.txt) and probe the COMPACTED index
    // with the non-seed docs. Compaction permutes file placement only:
    // every posting/shingle row survives (including per-increment
    // bucket_size values — the maxBucket cap is a per-row filter), so
    // the probe is bit-identical to one over the fragmented stage
    // (IndexCompactionSpec pins it) and the entry shares the
    // exact-Jaccard probe oracle (the x_dedup_incremental formulation
    // over the %4 split). io-classified: repack write + probe read.
    "x_minhash_compact" -> ((s, d) => {
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_mh_compact_run_${ProcessHandle.current().pid()}_" +
          s"${streamRun.incrementAndGet()}")
      Option(lastIngestWork.put("x_minhash_compact", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val compacted = work.resolve("idx").toString
      graft.sources.IndexCompaction.compactIndex(
        s, seedDedupIndexDir(s, d), compacted)
      val batch = t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
      Dedup.minHashProbeIndex(s, batch, "doc_id", "text", compacted,
          bands = 32, threshold = 0.5)
        .select(col("batch_id"), col("corpus_id"), col("jaccard"))
    }),

    // Structured Streaming surface, driver-visible: the windowed
    // error-rate summary over a file-source micro-batch stream of
    // lineitem, annotated by the SAME compiled rule set the batch
    // entries use (streaming/batch parity is by construction — the
    // row rules are plain expressions). Runs to completion with
    // Trigger.AvailableNow into a memory sink in COMPLETE mode: append
    // would hold back the final watermark's windows in a bounded run;
    // complete keeps all window state, which is right for verification
    // (production tails use append+watermark via the foreachBatch
    // writer). Aggregation is exact, so the result is micro-batch-
    // partitioning-independent and fully oracle-checkable.
    "x_stream_error_rate" -> ((s, d) => {
      val schema = t(s, d, "lineitem").schema
      val stream = s.readStream.schema(schema).parquet(lineitemStreamDir(d))
      val annotated = stream.withColumn("errors", RuleCompiler.compileRow(lineitemRules))
      val rates = graft.streaming.StreamingValidation.errorRateByWindow(
        annotated, timeCol = "l_shipdate", windowLen = "1 hour",
        watermark = "2 hours", keyCol = "l_returnflag")
      // memory-sink names must be unique per ACTIVE query; reruns in the
      // same session (bench reps) each get a fresh table.
      // HARNESS-ONLY SHAPE (applies to every x_stream_* entry): a
      // memory sink materializes results driver-resident — bounded here
      // by true output size (<= ~33k rows), but a production tail uses
      // the foreachBatch writer / a durable sink, never format("memory")
      val name = replayToMemory(s, "x_stream_error_rate", rates, "complete")
      s.table(name).select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("l_returnflag").as("return_flag"),
        col("total_rows"), col("invalid_rows"), col("error_count"))
    }),

    // Streaming exact dedup (dropDuplicatesWithinWatermark) replayed
    // over the bounded lineitem file. The watermark delay (10 years)
    // exceeds the data's whole event-time span, so the dedup GUARANTEE
    // covers every duplicate pair and the output is exactly the
    // distinct key set regardless of micro-batch partitioning — which
    // also makes it oracle-checkable (the surviving ROW per key is
    // arrival-order-dependent, so the entry projects the keys only).
    "x_stream_dedup" -> ((s, d) => {
      val schema = t(s, d, "lineitem").schema
      val stream = s.readStream.schema(schema).parquet(lineitemStreamDir(d))
      val deduped = graft.streaming.StreamingValidation.dedupStream(
        stream, Seq("l_orderkey", "l_returnflag"), "l_shipdate",
        watermark = "87600 hours")
      // dedup is the one replay whose state is data-proportional
      // (one row per distinct key, ~33k at sf0.1) — give it more state
      // partitions than the small-state replays (measured: 8 beats
      // both 4 and 32 here)
      val name = replayToMemory(s, "x_stream_dedup", deduped, "append",
        statePartitions = 8)
      s.table(name).select(col("l_orderkey"), col("l_returnflag"))
    }),

    // Streaming sessionization via session_window over the events
    // stream: per-user sessions with a 30-minute gap. The watermark
    // delay (10 years) covers the whole event-time span, so every
    // session closes with its full event set and the output is the
    // exact session partition regardless of micro-batching — which
    // makes the batch gaps-and-islands SQL a valid oracle. Session
    // bounds are projected as epoch micros (the engines' shared
    // timestamp precision; see the batch x_sessionize precision note).
    // Stream-stream interval inner join (click→purchase attribution
    // within 6 hours, per user) over two file-source streams of the
    // same events table. Both sides are watermarked and the join
    // condition bounds the event times against each other, so state is
    // evictable (the operator's whole point — see intervalJoinStreams
    // scaladoc); the span-covering delay makes the bounded replay emit
    // the exact pair set, so the batch interval-join SQL is the oracle.
    "x_stream_join" -> ((s, d) => {
      def ev() = withTsUtc(
        s.readStream.schema(eventsSchema(s, d))
          .parquet(tableStreamDir(d, "events")),
        eventsTsIsNative(s, d))
      val clicks = ev().filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_utc").as("click_ts"))
      val purchases = ev().filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_utc").as("purchase_ts"))
      val pairs = graft.streaming.StreamingValidation.intervalJoinStreams(
        clicks, purchases, Seq("user_id"), "click_ts", "purchase_ts",
        maxDelay = "6 hours", watermark = "87600 hours")
      val name = replayToMemory(s, "x_stream_join", pairs, "append")
      s.table(name).select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"))
    }),

    "x_stream_sessionize" -> ((s, d) => {
      val stream = withTsUtc(
        s.readStream.schema(eventsSchema(s, d))
          .parquet(tableStreamDir(d, "events")),
        eventsTsIsNative(s, d))
      val sessions = graft.streaming.StreamingValidation.sessionizeStream(
        stream, keyCol = "user_id", timeCol = "ts_utc",
        gap = "30 minutes", watermark = "87600 hours")
      val name = replayToMemory(s, "x_stream_sessionize", sessions, "complete")
      s.table(name).select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"))
    }),

    // Streaming funnel (flatMapGroupsWithState): greedy-earliest chain
    // state per user, every field monotone, so max-per-user over the
    // Update sink is the verdict frame — oracle-identical to the
    // batch x_funnel on the bounded replay.
    "x_stream_funnel" -> ((s, d) => {
      val stream = withTsUtc(
        s.readStream.schema(eventsSchema(s, d))
          .parquet(tableStreamDir(d, "events")),
        eventsTsIsNative(s, d))
      val prog = graft.streaming.StreamingValidation.funnelStream(
        s, stream, "user_id", "ts_utc", "event_type",
        Seq("view", "click", "purchase"), 86400000000L)
      val name = replayToMemory(s, "x_stream_funnel", prog.toDF(), "update")
      s.table(name).groupBy(col("user_id"))
        .agg(max(col("t1_us")).as("t1_us"),
          max(col("t2_us")).as("t2_us"),
          max(col("t3_us")).as("t3_us"),
          max(col("steps_reached")).cast(IntegerType).as("steps_reached"),
          max(col("converted")).cast(IntegerType).as("converted"))
    }),

    // Stateful threshold alerting (flatMapGroupsWithState) over the
    // rule-annotated lineitem stream: one alert per (return_flag,
    // threshold) the moment the key's running invalid count crosses it.
    // The ALERT SET is micro-batch-partitioning-independent — a
    // threshold fires exactly once per key, iff the key's final invalid
    // count reaches it — so projecting (key, threshold) is
    // deterministic and SQL-expressible even though the `invalid`
    // column at fire time (the running count when the batch crossed)
    // is not; the spec pins that column's semantics instead.
    // No watermark/time filter: NoTimeout state keyed by 3 flags.
    "x_stream_alerts" -> ((s, d) => {
      val alerts = graft.streaming.StreamingValidation.invalidAlerts(
        s, keyedInvalidStream(s, d), thresholds = Seq(10L, 100L, 1000L, 100000L))
      val name = replayToMemory(s, "x_stream_alerts", alerts.toDF(), "update")
      s.table(name).select(col("key"), col("threshold"))
    }),

    // Running per-key valid/invalid counters (mapGroupsWithState) over
    // the same keyed stream as x_stream_alerts. The per-batch emissions
    // are micro-batch-dependent, but the counters are MONOTONE, so
    // max() over the update-mode sink is exactly the final state —
    // deterministic and SQL-expressible as plain per-key counts.
    // Closes the last operator without a driver-visible catalog row.
    "x_stream_counts" -> ((s, d) => {
      val counts = graft.streaming.StreamingValidation.runningCounts(
        s, keyedInvalidStream(s, d))
      val name = replayToMemory(s, "x_stream_counts", counts.toDF(), "update")
      s.table(name).groupBy(col("key"))
        .agg(max(col("total")).as("total_rows"),
          max(col("invalid")).as("invalid_rows"))
    }),

    // Salted stateful streaming (THE per-key hot-state pattern at
    // 100 TB): x_stream_counts keys its mapGroupsWithState on
    // l_returnflag — cardinality 3, so however many state-store
    // partitions the query gets, at most 3 tasks ever carry state and
    // one hot flag bottlenecks the stateful stage. This entry applies
    // the batch x_salted_count idiom to streaming state: the state key
    // is (flag, salt) with salt = (l_orderkey*2654435761 +
    // l_linenumber) mod 8 — a deterministic, oracle-portable spread
    // (Knuth multiplicative constant; NOT rand(), so replays and both
    // engines agree) — giving 24 live state keys across 8 state
    // partitions (parallelism 8 > cardinality 3). The per-salt
    // counters stay monotone, so max() per salted key over the update
    // sink is that sub-key's final state, and the post-agg merge
    // (sum over salts, count of live salts) is oracle-exact per-flag
    // totals. n_salts = 8 per flag in the output is the spread made
    // visible. The flag itself is single-char (R/A/N), so the '#'
    // separator can never collide with key content.
    "x_stream_salted_counts" -> ((s, d) => {
      import s.implicits._
      val schema = t(s, d, "lineitem").schema
      val salted = s.readStream.schema(schema).parquet(lineitemStreamDir(d))
        .withColumn("errors", RuleCompiler.compileRow(lineitemRules))
        .select(
          concat_ws("#",
            coalesce(col("l_returnflag"), lit("")),
            pmod(col("l_orderkey") * lit(2654435761L) + col("l_linenumber"),
              lit(8L)).cast(StringType)).as("k"),
          (size(col("errors")) > 0).as("inv"))
        .as[(String, Boolean)]
      val counts = graft.streaming.StreamingValidation.runningCounts(s, salted)
      val name = replayToMemory(s, "x_stream_salted_counts", counts.toDF(),
        "update", statePartitions = 8)
      s.table(name)
        .groupBy(col("key"))
        .agg(max(col("total")).as("t"), max(col("invalid")).as("i"))
        .withColumn("flag", substring_index(col("key"), "#", 1))
        .groupBy(col("flag"))
        .agg(sum(col("t")).as("total_rows"),
          sum(col("i")).as("invalid_rows"),
          count(lit(1)).as("n_salts"))
        .select(col("flag").as("key"), col("total_rows"),
          col("invalid_rows"), col("n_salts"))
    }),

    // LATE-DATA accounting replay: four deterministic micro-batches
    // (staged week files, maxFilesPerTrigger=1 — see lateStreamDir)
    // through a 48 h-watermark streaming dedup. The three planted
    // outcomes — late-but-within-delay KEPT, beyond-delay DROPPED by
    // the watermark, duplicate-within-delay DROPPED by dedup state —
    // are the semantics a 100 TB streaming ingest lives or dies by,
    // and every drop is replayed row-exactly by the batch oracle
    // (watermark = per-batch prefix max − delay; plants sit ≥ 12 h
    // from every boundary so strict-vs-inclusive cannot matter).
    // Output: per source file, survivors + an exact integer id
    // checksum.
    "x_stream_late_drops" -> ((s, d) => {
      val dir = lateStreamDir(s, d)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("src_file", StringType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val kept = graft.streaming.StreamingValidation.dedupStream(
        stream, Seq("event_id"), "ts", watermark = "48 hours")
      val name = replayToMemory(s, "x_stream_late_drops", kept, "append")
      s.table(name)
        .groupBy(col("src_file"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("event_id")).as("id_checksum"))
    }),

    // STREAMING dedup-ingest against a PERSISTED, GROWING index — the
    // #1 production ingest shape this family was built for: each
    // micro-batch probes the on-disk MinHash index
    // ([[Dedup.minHashProbeIndex]]), keeps only docs with no near-dup
    // among everything previously SEEN (base corpus + earlier
    // batches), then appends itself to the index
    // ([[Dedup.ingestDedupBatchTo]] — policy and the
    // novelty-is-order-independent argument in its scaladoc).
    // foreachBatch's strict micro-batch sequencing IS the fold; a
    // one-shot batch probe (x_dedup_incremental) cannot express the
    // index growing between increments. Deterministic replay: the
    // staged files arrive as three fixed micro-batches
    // (ingestStageDir), so "seen earlier" is exactly doc_id%4 < k and
    // the DuckDB oracle re-derives every survivor by exact Jaccard.
    // bands=32 (4 rows/band, vs the family default 16×4): the oracle
    // is exact Jaccard at threshold 0.5, where a 16-band probe's
    // per-pair collision probability is only ~64% at J=0.5 — it
    // passes on the current corpus, but a regenerated corpus planting
    // pairs NEAR the threshold could make the engine keep a doc the
    // oracle drops. 32 bands makes candidate collision at J>=0.5
    // structurally near-certain (1-(1-0.5^4)^32 ≈ 0.88 at exactly
    // 0.5, >0.99 by J=0.6), the same margin DedupSpec uses.
    // Output: the kept doc_ids across all three increments.
    "x_stream_dedup_index" -> ((s, d) => {
      val stageDir = ingestStageDir(s, d)
      val runId = streamRun.incrementAndGet()
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_ingest_run_${ProcessHandle.current().pid()}_$runId")
      Option(lastIngestWork.put("x_stream_dedup_index", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      java.nio.file.Files.createDirectories(work)
      val idxPath = work.resolve("idx").toString
      val outDir = work.resolve("novel").toString
      // stage-and-copy: the seed index is a per-dir artifact; this
      // run's appends mutate a private file copy of it
      copyTree(java.nio.file.Paths.get(seedDedupIndexDir(s, d)),
        work.resolve("idx"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val ckpt = ckptRoot.resolve(s"ingest_$runId")
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val batch = b.persist()
          // the sink write rides INSIDE the fold step: one novel job
          // per batch (the write is the materialization), overlapped
          // with the index append (ingestDedupBatchTo scaladoc)
          try
            Dedup.ingestDedupBatchTo(batch.sparkSession, batch,
                "doc_id", "text", idxPath, bands = 32, threshold = 0.5,
                batchId = Some(bid),
                sink = n => n.select(col("doc_id"))
                  .write.mode("append").parquet(outDir))
          finally { batch.unpersist(blocking = false); () }
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      pruneDeadStreamingListenerBuses(s)
      s.read.parquet(outDir).select(col("doc_id"))
    }),

    // The ingest fold WITH intra-batch dedup — the #1 production
    // ingest shape as ONE call ([[Dedup.ingestDedupBatchTo]]
    // `dedupWithinBatch = true`): each micro-batch drops docs
    // near-duplicating anything previously SEEN, then drops every doc
    // with a SMALLER-ID near-dup among the batch's index-novel rows
    // (a per-pair rule — deterministic, and exactly re-derivable by
    // the exact-Jaccard oracle). The index still grows by the FULL
    // batch, so later batches' novelty never depends on within-batch
    // survivor choices (the append-all-seen policy pin). Same staged
    // three-batch replay and bands=32 margin as x_stream_dedup_index.
    "x_stream_ingest_within" -> ((s, d) => {
      val stageDir = ingestStageDir(s, d)
      val runId = streamRun.incrementAndGet()
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_ingest_wb_run_${ProcessHandle.current().pid()}_$runId")
      Option(lastIngestWork.put("x_stream_ingest_within", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      java.nio.file.Files.createDirectories(work)
      val idxPath = work.resolve("idx").toString
      val outDir = work.resolve("novel").toString
      // stage-and-copy (see x_stream_dedup_index): same seed artifact,
      // private copy per run
      copyTree(java.nio.file.Paths.get(seedDedupIndexDir(s, d)),
        work.resolve("idx"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val ckpt = ckptRoot.resolve(s"ingest_wb_$runId")
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val batch = b.persist()
          // sink inside the fold step — one novel job per batch,
          // overlapped with the index append (see x_stream_dedup_index)
          try
            Dedup.ingestDedupBatchTo(batch.sparkSession, batch,
                "doc_id", "text", idxPath, bands = 32, threshold = 0.5,
                batchId = Some(bid), dedupWithinBatch = true,
                sink = n => n.select(col("doc_id"))
                  .write.mode("append").parquet(outDir))
          finally { batch.unpersist(blocking = false); () }
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      pruneDeadStreamingListenerBuses(s)
      s.read.parquet(outDir).select(col("doc_id"))
    }),

    // STREAMING EMBEDDING ingest against the persisted, GROWING int8
    // IVF index — the ANN mirror of x_stream_dedup_index
    // ([[Ivf.ingestAnnBatchTo]]): each micro-batch of vectors retrieves
    // its top-k neighbors among everything previously SEEN (base
    // corpus %4==0 plus earlier batches), then appends itself under
    // the FROZEN seed centroids; the sink-before-append discipline
    // keeps the emitted neighbors immune to the index
    // mutation (spec-pinned in IvfSpec), and the batchId marker makes
    // a foreachBatch replay skip the re-append. nProbe = nlist
    // (exhaustive cells) so retrieval is the EXACT int8 top-k among
    // seen vectors — integer dots, closed-form for DuckDB; the pruned
    // nProbe serving shape is x_ann_index_probe's. io-classified.
    "x_stream_ann_ingest" -> ((s, d) => {
      val stageDir = annIngestStageDir(s, d)
      val runId = streamRun.incrementAndGet()
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_ann_ingest_run_${ProcessHandle.current().pid()}_$runId")
      Option(lastIngestWork.put("x_stream_ann_ingest", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      java.nio.file.Files.createDirectories(work)
      val idxPath = work.resolve("idx").toString
      val outDir = work.resolve("neighbors").toString
      // stage-and-copy: seed int8 IVF index is a per-dir artifact;
      // the fold's appends mutate this run's private copy
      copyTree(java.nio.file.Paths.get(seedAnnIndexDir(s, d)),
        work.resolve("idx"))
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      // the coarse quantizer is FROZEN across the whole fold (append
      // never touches centroids/meta) — read it once per execution
      // instead of one centroid-collect job per micro-batch (r19)
      val frozenIdx = graft.operators.Ivf.readInt8Index(s, idxPath)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val ckpt = ckptRoot.resolve(s"ann_ingest_$runId")
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val batch = b.persist()
          // the parquet write IS the fold step's
          // sink-before-append action (one neighbor job per batch)
          try
            graft.operators.Ivf.ingestAnnBatchTo(batch.sparkSession, batch,
                "vec_id", "embedding", idxPath, frozenIdx, k = 5,
                nProbe = Int.MaxValue, batchId = Some(bid),
                sink = n => n
                  .select(col("query_id"), col("id"), col("rank"), col("int_dot"))
                  .write.mode("append").parquet(outDir))
          finally { batch.unpersist(blocking = false); () }
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      pruneDeadStreamingListenerBuses(s)
      s.read.parquet(outDir)
        .select(col("query_id"), col("id"), col("rank"), col("int_dot"))
    }),

    // THE PRUNED-PROBE STREAMING ANN INGEST — the production fold
    // shape x_stream_ann_ingest deliberately does not demonstrate (it
    // retrieves at nProbe = nlist for its closed-form oracle, which
    // makes it quadratic BY CONTRACT and excluded from decade probes).
    // This sibling folds micro-batches into a persisted IVF-PQ index
    // ([[Pq.ingestBatchTo]]): each batch retrieves top-5 ADC neighbors
    // among everything previously SEEN at nProbe=8 of 64 — reading
    // ONLY the probed cells' m-byte code files — then appends itself
    // under the FROZEN seed quantizers. Retrieval per batch is bounded
    // by maxQueries=256 hash-minima rows (the exactAuditMaxQueries
    // convention applied to the fold: the append ingests the FULL
    // batch, the audit probes a fixed-size slice — per-batch probe
    // work ∝ probed-cell occupancy, linear in corpus, decade-probe
    // eligible). ALL-INTEGER routing and scoring under hash-sampled
    // seed quantizers ⇒ the whole fold is closed-form re-derivable:
    // "seen" = smaller vec_id%4 class (seed = class 0), query slice =
    // the 256 smallest (hashRank, id) per class, probes/LUT/ADC the
    // ivfPqOracleSql derivation with seed-trained quantizers. NO
    // goldens. io-classified + deep-warmup class.
    "x_stream_pq_ingest" -> ((s, d) => {
      val stageDir = annIngestStageDir(s, d)
      val runId = streamRun.incrementAndGet()
      val work = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_pq_ingest_run_${ProcessHandle.current().pid()}_$runId")
      Option(lastIngestWork.put("x_stream_pq_ingest", work)).foreach { prev =>
        try deleteRecursively(prev)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      java.nio.file.Files.createDirectories(work)
      val idxPath = work.resolve("idx").toString
      val outDir = work.resolve("neighbors").toString
      // stage-and-copy: the seed PQ index is a per-dir artifact; the
      // fold's appends mutate this run's private copy
      copyTree(java.nio.file.Paths.get(seedPqIndexDir(s, d)),
        work.resolve("idx"))
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      // codebook/centroids/meta are FROZEN across the whole fold
      // (append touches cells/ only) — read them once per execution
      // instead of two collect jobs per micro-batch; each batch's
      // probe still re-scans cells/ (ingestBatchTo scaladoc), so
      // batch k retrieves against exactly batches < k as before (r19)
      val frozenIdx = graft.operators.Pq.readIndex(s, idxPath)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val ckpt = ckptRoot.resolve(s"pq_ingest_$runId")
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val batch = b.persist()
          // the parquet write IS the fold step's
          // sink-before-append action (one neighbor job per batch)
          try
            graft.operators.Pq.ingestBatchTo(batch.sparkSession, batch,
                "vec_id", "embedding", idxPath, frozenIdx, k = 5, nProbe = 8,
                batchId = Some(bid), maxQueries = 256,
                sink = n => n
                  .select(col("query_id"), col("id"), col("rank"), col("adc_dot"))
                  .write.mode("append").parquet(outDir))
          finally { batch.unpersist(blocking = false); () }
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      pruneDeadStreamingListenerBuses(s)
      s.read.parquet(outDir)
        .select(col("query_id"), col("id"), col("rank"), col("adc_dot"))
    }),

    // JSON/multimodal props extraction (events.props is a JSON string).
    "x_json_extract" -> ((s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"),
          count(lit(1)).as("n_events"))
    }),

    // Semi-structured key census: occurrence count of every top-level
    // JSON key in the props column — the schema-discovery pass run
    // before promoting ad-hoc JSON fields to real columns (a key
    // present on 100% of rows is a column; one at 0.1% is an
    // extension). Explode of the per-row key array, one count agg.
    "x_props_keys_hist" -> ((s, d) =>
      events(s, d)
        .select(explode(json_object_keys(col("props"))).as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("n_events"))),

    // Text analysis: integer token stats per document (SQL-safe subset of
    // TextAnalysis.documentFeatures; float features asserted in tests).
    "x_text_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish_tokens"),
        TextAnalysis.markerHits(TextAnalysis.tokens(lower(col("text"))),
          TextAnalysis.stopwordsEn).as("n_stopwords"))
    }),

    // Token budget table per source: docs and whitespace tokens — the
    // first table of any mixture plan (how many tokens each source can
    // contribute before it starts repeating). Null-text docs count as
    // docs but contribute no tokens on either side. One map-side-
    // combined agg over the codegen'd token-count kernel.
    "x_tokens_per_source" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType))
            .as("n_tokens"))),

    // Vocabulary building: top-100 corpus tokens by frequency with a
    // deterministic tie-break — map-side-combined hash agg plus a
    // TakeOrderedAndProject, never a full sort of the token multiset.
    "x_vocab_topk" -> ((s, d) => {
      TextAnalysis.vocabulary(t(s, d, "documents"), "text", 100)
    }),

    // Exact heavy hitters: tokens holding >= 0.2% of the corpus token
    // stream, via the two-phase Misra-Gries candidates + exact-recount
    // scheme (bounded shuffle — never a full distinct-token groupBy).
    // Counts are exact, so the oracle is the plain HAVING query.
    "x_heavy_hitters" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      HeavyHitters.heavyHitters(toks, "token", minShare = 0.002)
        .select(col("item").as("token"), col("cnt"))
    }),

    // Adjacent-token bigram collocations: the 20 most frequent
    // bigrams with their unigram counts — the corpus statistic behind
    // PMI/collocation scoring (the log itself is driver arithmetic;
    // the expensive corpus passes are these exact integer counts).
    // Bigrams explode in-row (no join to reconstruct adjacency); the
    // 20-row top-k is a TakeOrderedAndProject and broadcasts against
    // the unigram vocabulary.
    "x_bigram_colloc" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bi = docs
        .select(TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val top = bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_pair"))
        .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
        .limit(20)
      val uni = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      // enrich the 20-row top frame by streaming the vocabulary past
      // it twice — the pair side is always the broadcast build side
      val j1 = uni.select(col("w").as("w1"), col("n").as("n_w1"))
        .join(broadcast(top), "w1")
      uni.select(col("w").as("w2"), col("n").as("n_w2"))
        .join(broadcast(j1), "w2")
        .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"))
    }),

    // Out-of-vocabulary rate per language against the top-200 corpus
    // vocabulary — the tokenizer-coverage audit run before committing
    // a vocab size. Vocabulary is k rows → broadcast presence join;
    // one shuffle for the per-lang counts. Integers only.
    "x_oov_rate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val vocab = TextAnalysis.vocabulary(docs, "text", 200)
        .select(col("token"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    }),

    // Exact p50/p90/p99 by iterative histogram narrowing: ≤ 512-row
    // driver histograms per pass + one ≤ 8192-value final bucket —
    // the true order statistic without a global sort.
    "x_exact_quantiles" -> ((s, d) =>
      graft.operators.Quantiles.exactQuantiles(
        events(s, d), "value", Seq(0.5, 0.9, 0.99))),

    // Exact per-type median, all groups narrowed simultaneously (one
    // corpus aggregate per pass against a broadcast bracket table).
    "x_group_median" -> ((s, d) =>
      graft.operators.Quantiles.groupedExactQuantile(
        events(s, d), "event_type", "value", q = 0.5)),

    // Account-balance quartiles per market segment — the grouped
    // exact-quantile operator exercised on a second table at three
    // simultaneous q's: ONE histogram-narrowing loop resolves all
    // (segment, quartile) brackets together (≤ B-row driver state per
    // pass; no per-segment sort anywhere — and no per-q re-scan, the
    // r14 formulation's cost: three separate selector loops over the
    // same column). All three q's are dyadic, so rank arithmetic is
    // float-exact.
    "x_acctbal_quartiles" -> ((s, d) =>
      graft.operators.Quantiles.groupedExactQuantiles(
        t(s, d, "customer"), "c_mktsegment", "c_acctbal",
        Seq(0.25, 0.5, 0.75))),

    // Cohort-LTV triangle: revenue by (acquisition month, months
    // since acquisition) over 30-day months — the value-weighted
    // companion to x_retention's count matrix (finance reads this
    // one). Cohort month is an algebraic min joined back; all money
    // stays DECIMAL until emission.
    "x_cohort_ltv" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey"),
        expr("datediff(to_date(o_orderdate), date '1970-01-01') div 30")
          .cast(LongType).as("m"),
        col("o_totalprice"))
      // cohort month as a MIN window — the agg-then-join-back form
      // scanned orders twice (r18 plan audit)
      o.withColumn("cohort_month",
          min(col("m")).over(Window.partitionBy(col("o_custkey"))))
        .groupBy(col("cohort_month"),
          (col("m") - col("cohort_month")).as("age_months"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType).as("revenue"))
    }),

    // Repeat-purchase rate per market segment: customers, buyers
    // (≥1 order), repeaters (≥2) — the loyalty read over the
    // customer⋈orders relationship, zero-order customers included
    // via the left join. Fact collapses to per-customer counts first.
    "x_repeat_rate" -> ((s, d) => {
      val per = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n") >= 1, 1L).otherwise(0L)).as("n_buyers"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_repeat"))
    }),

    // Half-life-decayed per-user activity: every term count·2^-offset
    // is a dyadic rational, so the double sum is exact and
    // order-independent — hash-stable with no rounding.
    "x_decayed_activity" -> ((s, d) =>
      graft.operators.EventFeatures.decayedCounts(
        events(s, d), "ts_utc", "user_id", halfLifeDays = 1)),

    // Equal-frequency decile features: exact boundaries from the
    // narrowing selector, then a shuffle-free codegen'd labeling pass
    // (ties go down — bucket k is the interval (b_{k-1}, b_k]).
    "x_value_deciles" -> ((s, d) =>
      graft.operators.Quantiles.withQuantileBuckets(
        events(s, d), "value", nBuckets = 10, outCol = "decile")
        .select(col("event_id"), col("value"), col("decile"))),

    // Near-dup similarity histogram off the shared pair graph: pairs
    // per jaccard decile — the threshold-tuning curve a curator reads
    // before picking the dedup cutoff. One tiny agg over the
    // pair-bounded cached frame.
    "x_dedup_thresholds" -> ((s, d) =>
      ngramPairGraph(s, d)._1
        .groupBy(least(lit(10L), floor(col("jaccard") * 10).cast(LongType))
          .as("sim_decile"))
        .agg(count(lit(1)).as("n_pairs"))),

    // CCNet-style char-trigram LM quality score: per-lang top-500
    // trigram model trained on the corpus itself, each doc scored by
    // average model frequency of its trigrams (rational arithmetic —
    // exact long sums, one final IEEE division — so the doubles
    // hash-match the oracle; see NgramLm scaladoc).
    "x_lm_score" -> ((s, d) => {
      // widened: the trigram scoring kernel, not the scan, is the cost
      val docs = widen(t(s, d, "documents"))
      NgramLm.score(docs, "doc_id", "lang", "text", lmModel(s, d), n = 3)
    }),

    // CCNet head/middle/tail banding: per-lang score TERCILES cut the
    // corpus, thresholds broadcast back — the corpus never sorts and
    // never funnels through per-lang window tasks. Exact percentile on
    // both engines (type-7 interpolation).
    "x_quality_bands" -> ((s, d) => {
      // widened: the trigram scoring kernel, not the scan, is the cost
      val docs = widen(t(s, d, "documents"))
      NgramLm.qualityBuckets(docs, "doc_id", "lang", "text", lmModel(s, d),
        n = 3)
    }),

    // Fixed-size token windows with stride (16-token chunks every 12 —
    // 4-token overlap): the RAG/embedding chunking step. Pure kernel
    // projection + posexplode; chunk boundaries and the rejoined text
    // are deterministic integer/string work the oracle replays with
    // list slicing.
    "x_chunk_windows" -> ((s, d) => {
      TextAnalysis.chunkWindows(t(s, d, "documents"), "doc_id", "text",
        size = 16, stride = 12)
    }),

    // Corpus text normalization: NFC + control-char scrub + whitespace
    // collapse via the NormalizeTextExpr kernel, over documents
    // deterministically augmented with the mess the kernel exists for
    // (tabs, a BEL control, a DECOMPOSED e+combining-acute, trailing
    // runs). The oracle replays the exact chain with nfc_normalize +
    // regexp_replace — including the composed-vs-decomposed é.
    "x_normalize_text" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit("\t badly\u0007 spaced e\u0301"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("  trailing  "))
            .otherwise(lit(""))).as("t"))
      aug.select(col("doc_id"),
          graft.functions.VectorFunctions.normalizeText(col("t")).as("text_norm"))
        .withColumn("n_chars_norm", length(col("text_norm")).cast(LongType))
    }),

    // Length-bucketed batching: sort by (length, id), cut into 32-row
    // batches, report per-batch padding waste — the padding minimizer
    // for fixed-batch inference. Global numbering WITHOUT a
    // single-task window (range sort + per-partition count offsets;
    // see Packing.lengthBatches).
    "x_length_batches" -> ((s, d) => {
      val b = graft.operators.Packing.lengthBatches(
        t(s, d, "documents"), "doc_id", "n_chars", batchSize = 32)
      graft.operators.Packing.batchPaddingStats(b, "n_chars")
    }),

    // TF-IDF keyword extraction: top-5 terms per document. Uses the
    // rational-idf variant (one exact multiply + one IEEE division) so
    // the float score is bit-reproducible across engines — the classic
    // log-idf variant is spec-pinned instead (ln differs in final ulps
    // between libm and the JVM, which would make a hash oracle flaky).
    "x_tfidf_topk" -> ((s, d) => {
      TextAnalysis.tfidfTopK(t(s, d, "documents"), "doc_id", "text",
          k = 5, logIdf = false)
        .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
          col("token"), col("tf"), col("df"), col("score"))
    }),

    // Text analysis rollup per language tag.
    "x_text_stats" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // Character-class profile per language: total chars, digits,
    // ASCII letters, spaces — the alphabet-level quality signal next
    // to x_text_stats' token view (a crawl whose digit or non-letter
    // share jumps is machine-generated or mis-decoded). Counts via
    // codegen'd regexp_replace length deltas; integers only.
    "x_char_classes" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          sum(length(col("text")).cast(LongType)).as("n_chars"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", "")))
            .cast(LongType)).as("n_digits"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .cast(LongType)).as("n_ascii_letters"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), " ", "")))
            .cast(LongType)).as("n_spaces"))),

    // Flesch–Kincaid-style readability: three codegen'd regex counters
    // + fixed-order IEEE arithmetic (no rounding — bit-identical).
    "x_readability" -> ((s, d) =>
      TextAnalysis.readability(t(s, d, "documents"), "doc_id", "text")),

    // Per-source data card: the dataset-release summary (docs, langs,
    // distinct texts on a 128-bit content hash, token/char totals) in
    // ONE map-side-combined aggregate.
    "x_data_card" -> ((s, d) =>
      graft.operators.Profiler.corpusCard(
        t(s, d, "documents"), "source", "lang", "text", "n_chars")),

    // Language-ID marker hits (integer features; argmax tested in Scala).
    "x_lang_marker_hits" -> ((s, d) => {
      val langs = Seq("en", "de", "fr", "es")
      val hits = graft.functions.VectorFunctions.multiTokenSetCount(
        TextAnalysis.tokens(lower(col("text"))),
        langs.map(TextAnalysis.langMarkers))
      t(s, d, "documents")
        .select(col("doc_id"), hits.as("h"))
        .select(col("doc_id") +: langs.zipWithIndex.map {
          case (l, i) => col("h").getItem(i).as(s"${l}_hits") }: _*)
    }),

    // Language-ID confusion matrix: labeled lang × predicted lang
    // (marker-argmax heuristic, ties to the lexicographically largest
    // language, "und" when no marker hits) — the audit that tells a
    // curation owner WHERE the cheap classifier fails before it gates
    // a 100 TB filter. One codegen'd pass + one count shuffle.
    "x_lang_confusion" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang").as("label_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))),

    // Token-length histogram per language — the tokenizer diagnostic
    // read before choosing vocab/merge budgets. Integers only; the
    // explode shrinks map-side to distinct (lang, len) pairs.
    "x_token_len_profile" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"), length(col("tok")).cast(LongType).as("tok_len"))
        .agg(count(lit(1)).as("n_tokens"))),

    // LEXICAL drift between source cohorts: top-100 vocabulary
    // overlap between even- and odd-indexed sources — the
    // vocabulary-level companion to x_chars_drift's length KS (a
    // crawl whose head vocabulary diverges is topically drifting even
    // if its length profile holds). Both vocabularies are k-row
    // TakeOrdered frames; the overlap join is k×k broadcast work.
    "x_vocab_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("__c",
          (substring(col("source"), 4, 10).cast(IntegerType) % 2))
      val va = TextAnalysis.vocabulary(docs.filter(col("__c") === 0), "text", 100)
        .select(col("token"))
      val vb = TextAnalysis.vocabulary(docs.filter(col("__c") === 1), "text", 100)
        .select(col("token"))
      va.join(broadcast(vb), "token")
        .agg(count(lit(1)).as("n_shared"))
        .select(col("n_shared"), (lit(200L) - col("n_shared")).as("n_union"))
    }),

    // Cohort drift on a SECOND table: per-language KS statistic of the
    // document-length distribution between even- and odd-indexed
    // sources (crawl cohort A/B) — Drift.ksStatistic reused beyond the
    // event stream. Exact integer numerator, same contract as
    // x_ks_drift.
    "x_chars_drift" -> ((s, d) =>
      Drift.ksStatistic(
        t(s, d, "documents")
          .withColumn("__v", col("n_chars").cast(DoubleType))
          .withColumn("__s",
            (substring(col("source"), 4, 10).cast(IntegerType) % 2)
              .cast(IntegerType)),
        "lang", "__v", "__s")),

    // Multimodal plumbing: binary payload + byte-level metadata
    // (decode itself is the stubbed mapPartitions path, MultimodalSpec).
    "x_multimodal_meta" -> ((s, d) => {
      Multimodal.toMediaFrame(t(s, d, "documents"), "doc_id", "text", "image")
        .select(col("media_id"), col("kind"),
          col("meta.n_bytes").as("n_bytes"),
          length(col("payload")).cast(LongType).as("payload_bytes"))
    }),

    // Full multimodal decode path, end-to-end through the driver: wrap
    // documents as media (both kinds, so both duration branches run),
    // then the byte-budgeted mapPartitions feature extraction. The stub
    // decode is deterministic byte arithmetic, so the ENTIRE frame —
    // width/height/duration and the rolling signed-byte checksum — is
    // hash-verified against a DuckDB re-derivation (hex-string byte
    // access + list_reduce mod 2^64).
    "x_multimodal_features" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val media = Multimodal
        .toMediaFrame(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "image")
        .unionAll(Multimodal
          .toMediaFrame(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", "video"))
      Multimodal.extractFeatures(s, media)
    }),

    // Frame-sampling offsets: codegen'd sequence + explode, one row per
    // sampled byte offset. Pure integer arithmetic — oracle-exact
    // (DuckDB generate_series has the same inclusive-stop semantics as
    // Spark sequence).
    "x_multimodal_offsets" -> ((s, d) => {
      Multimodal.sampleOffsets(
        Multimodal.toMediaFrame(t(s, d, "documents"), "doc_id", "text", "video"),
        everyBytes = 256)
    }),

    // Repetition / boilerplate quality signals (Gopher-style): duplicate
    // -line fraction and top-{2,3}-gram frequency share. The corpus has
    // no newlines, so (as x_pii_redact does for PII) the query injects
    // repeated boilerplate lines into every 7th doc to keep the line
    // signal non-vacuous; the n-gram shares are naturally non-trivial.
    // All three are deterministic integer-ratio arithmetic — hash-
    // verified against a DuckDB re-derivation.
    "x_repetition_stats" -> ((s, d) => {
      val boiler = "\nsubscribe now\nsubscribe now\nsubscribe now"
      val docs = t(s, d, "documents").withColumn("text2",
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")))
      docs.select(col("doc_id"),
        TextAnalysis.duplicateLineFraction(col("text2")).as("dup_line_frac"),
        TextAnalysis.topNgramFraction(col("text2"), 2).as("top2_frac"),
        TextAnalysis.topNgramFraction(col("text2"), 3).as("top3_frac"))
    }),

    // The OTHER Gopher repetition axis: fraction of n-gram occurrences
    // that repeat, n = 2,3,4 — a pasted paragraph barely moves the
    // top-gram share (x_repetition_stats) but doubles up every n-gram
    // it contains. Three fused kernel loops in one codegen'd
    // projection; zero shuffle. (grams−distinct)/grams is one int/int
    // IEEE division — bit-exact vs the DuckDB re-derivation.
    "x_dup_ngram_frac" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.duplicateNgramFraction(col("text"), 2).as("dup2_frac"),
        TextAnalysis.duplicateNgramFraction(col("text"), 3).as("dup3_frac"),
        TextAnalysis.duplicateNgramFraction(col("text"), 4).as("dup4_frac"))),

    // Gopher-rule quality audit (Rae et al. 2021): per-doc signals +
    // one 0/1 flag per rule + the conjunction. Same boilerplate
    // injection as x_repetition_stats so the duplicate-line rule is
    // exercised (the synthetic corpus is single-line); thresholds
    // chosen to split the corpus on EVERY rule (keep rate ~39% at
    // sf0.01 — nothing vacuous). All five signals are int/int IEEE
    // divisions or integer counts, bit-identical cross-engine.
    "x_gopher_rules" -> ((s, d) => {
      val boiler = "\nsubscribe now\nsubscribe now\nsubscribe now"
      // widened: five text-rule kernels per row, not the scan, are the cost
      val docs = widen(t(s, d, "documents")).withColumn("text2",
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")))
      TextAnalysis.gopherRules(docs, "doc_id", "text2",
        minTokens = 50, maxTokens = 100000,
        minMeanTokLen = 4.0, maxMeanTokLen = 10.0,
        maxTop2Frac = 0.08, maxDupLineFrac = 0.2, minStopHits = 2)
    }),

    // Filter-bias audit: Gopher rule pass/fail counts PER LANGUAGE —
    // the table a curator reads before shipping an English-tuned
    // filter against a multilingual corpus (stopword and word-length
    // rules systematically fail non-English text; this quantifies the
    // skew instead of discovering it post-training). Same rule kernel
    // and thresholds as x_gopher_rules, via the shared gopherSignals
    // artifact (one kernel pass per corpus per session); one
    // |langs|-bounded agg on top.
    "x_quality_by_lang" -> ((s, d) => {
      val nn = t(s, d, "documents").filter(col("text").isNotNull)
      val g = gopherSignals(s, d)
      nn.select(col("doc_id"), col("lang")).join(g, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast(LongType)).as("n_keep"),
          sum(lit(1L) - col("r_token_count")).as("n_fail_tokens"),
          sum(lit(1L) - col("r_word_len")).as("n_fail_wordlen"),
          sum(lit(1L) - col("r_repetition")).as("n_fail_rep"),
          sum(lit(1L) - col("r_boilerplate")).as("n_fail_boiler"),
          sum(lit(1L) - col("r_stopwords")).as("n_fail_stop"))
    }),

    // Pipeline attrition funnel: how many docs survive each curation
    // stage — all → non-null text → ≥50 tokens → full Gopher keep →
    // exact-dedup survivor among keepers. The one-row capacity
    // planning view (what fraction of raw crawl becomes training
    // text) a 100 TB run prints before committing the mixture. Flag
    // sums ride the same rule kernel; the dedup leg is a text-keyed
    // min-id agg over the ALREADY-FILTERED keep set.
    "x_filter_funnel" -> ((s, d) => {
      // ONE pass over the doc⋈gopher join: the survivor-dedup count
      // previously referenced the joined frame a second time
      // (re-evaluating the corpus join per reference — r18 plan
      // audit); instead the global totals fold over per-text partials
      // (counts per group sum to the ungrouped totals, and n_unique =
      // texts whose group saw any keep=1). The bare docs count stays
      // its own pass — a footer-answered aggregate.
      val docs = t(s, d, "documents")
      val nn = docs.filter(col("text").isNotNull)
      val g = gopherSignals(s, d)
        .select(col("doc_id"), col("n_tokens"), col("keep"))
      val flags = nn.select(col("doc_id"), col("text")).join(g, "doc_id")
      flags
        .groupBy(col("text"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("n_tokens") >= 50, 1L).otherwise(0L)).as("__mt"),
          sum(col("keep").cast(LongType)).as("__q"),
          // "any keep == 1 in the group", matching the old per-row
          // keep === 1 filter for ANY keep domain — a bare max(keep)
          // === 1 would diverge if keep ever carried a value > 1
          max(when(col("keep") === 1, 1).otherwise(0)).as("__anykeep"))
        .agg(coalesce(sum(col("__n")), lit(0L)).as("n_nonnull"),
          sum(col("__mt")).as("n_min_tokens"),
          sum(col("__q")).as("n_quality"),
          count(when(col("__anykeep") === 1, lit(1))).as("n_unique"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .select(col("n_docs"), col("n_nonnull"), col("n_min_tokens"),
          col("n_quality"), col("n_unique"))
    }),

    // BPE merge-pair statistics: top adjacent character pairs weighted
    // by word frequency — the counting step of tokenizer training. The
    // corpus collapses to distinct words before the pair explode, so
    // stage-2 work is vocabulary-bounded. Deterministic cut at k
    // (count desc, pair asc); integer counts, exact oracle.
    "x_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairCounts(t(s, d, "documents"), "text", k = 40)),

    // Okapi BM25 retrieval: top-20 docs for a fixed 3-term query. The
    // rational-idf variant keeps the score hash-exact cross-engine
    // (the classic log-idf variant is spec-pinned); the per-doc score
    // rides a token-sorted fold, never an order-nondeterministic
    // float sum. Query-term filter lands BEFORE the tf shuffle.
    "x_bm25_topk" -> ((s, d) =>
      TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "join", "window"), k = 20, logIdf = false)),

    // DSIR-style importance weights (target = English docs vs the raw
    // corpus): add-one-smoothed unigram likelihood ratios, summed per
    // doc via the same token-sorted fold. The rational-ratio variant
    // is the hash-exact oracle surface; the paper's log-likelihood-
    // ratio variant is spec-pinned (ln ulps differ cross-engine).
    "x_importance_weights" -> ((s, d) =>
      graft.operators.DataSelection.importanceWeights(
        t(s, d, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", logRatio = false)),

    // Corpus 3-gram novelty: fraction of each doc's distinct 3-grams
    // seen in no other doc — the linear-cost boilerplate signal (the
    // quadratic complement is the pair-graph family). One int/int
    // division, hash-exact.
    "x_ngram_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(t(s, d, "documents"), "doc_id", "text", n = 3)),

    // Hybrid retrieval (the RAG shape): BM25 lexical top-50 ->
    // embedding cosine rerank -> top-10. The candidate set broadcasts
    // onto the embedding store (embeddings never shuffle); ranks are
    // emitted instead of float cosines (same reason as x_cosine_topk:
    // the ORDER is engine-stable, the accumulated float is not).
    "x_hybrid_search" -> ((s, d) => hybridTop10(s, d)),

    // What reranking CHANGES: overlap + total rank displacement
    // between the BM25 top-10 and the hybrid (cosine-reranked)
    // top-10 for the same query — the audit read before paying for
    // the rerank stage in production. Both sides' ranks are
    // sorted-array assignments over ≤10-row frames.
    "x_rerank_shift" -> ((s, d) => {
      val bmRanked = TextAnalysis.bm25TopK(
          t(s, d, "documents").filter(col("doc_id") =!= 0), "doc_id", "text",
          queryTerms = Seq("spark", "join", "window"), k = 10, logIdf = false)
        .agg(sort_array(collect_list(
          struct((-col("score")).as("ns"), col("doc_id").as("doc_id")))).as("xs"))
        .select(posexplode(col("xs")))
        .select(col("col.doc_id").as("doc_id"), (col("pos") + 1L).as("r_bm"))
      val hy = hybridTop10(s, d)
        .select(col("doc_id"), col("rank").cast(LongType).as("r_hy"))
      bmRanked.join(hy, "doc_id")
        .agg(count(lit(1)).as("n_overlap"),
          coalesce(sum(abs(col("r_bm") - col("r_hy"))), lit(0L))
            .as("sum_rank_shift"))
    }),

    // Token-association mining: top-40 co-occurring token pairs by
    // document-membership lift (rational PMI — ln is monotone, so the
    // ranking equals log-PMI's while staying hash-exact); min 10
    // co-docs cuts the rare-pair pathology.
    "x_token_lift" -> ((s, d) =>
      TextAnalysis.cooccurrenceLift(t(s, d, "documents"), "doc_id", "text",
        k = 40, minCount = 10)),

    // Model-based quality classification: linear logit over engineered
    // features, the fastText-style filter stage of corpus curation.
    // Punctuation injected into every 13th doc (the synthetic corpus
    // has none) so every model term is exercised; the logit is a
    // left-associated IEEE sum over int-derived features — hash-exact.
    "x_quality_classifier" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text2",
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" !!! ??? ;;;"))).otherwise(col("text")))
      graft.operators.QualityClassifier.score(docs, "text2")
        .select(col("doc_id"), col("logit"),
          col("keep").cast(IntegerType).as("keep_flag"))
    }),

    // Length-bias audit of the quality filter: Gopher keep/fail
    // counts per document-length decile (exact equal-frequency cut on
    // n_chars) — a filter that mostly kills short or long docs is
    // reshaping the length distribution, which shows up directly in
    // downstream context-length utilization. Joins the two existing
    // kernels; everything after them is a 10-row agg.
    "x_length_vs_quality" -> ((s, d) => {
      val nn = t(s, d, "documents").filter(col("text").isNotNull)
      val g = gopherSignals(s, d)
        .select(col("doc_id"), col("keep"))
      graft.operators.Quantiles.withQuantileBuckets(
          nn, "n_chars", nBuckets = 10, outCol = "len_decile")
        .select(col("doc_id"), col("len_decile"))
        .join(g, "doc_id")
        .groupBy(col("len_decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast(LongType)).as("n_keep"))
    }),

    // Deterministic resampling WITH replacement: n draws from n docs
    // via the portable LCG rank on the DRAW index, then the
    // times-drawn histogram. Zero RNG state — any engine replays the
    // same resample; never-drawn docs enter through the left join.
    // NOTE the histogram doubles as a generator-dispersion audit: a
    // true uniform resample is Poisson(1) (~37% absent); the
    // two-round LCG on consecutive indices is measurably
    // SUB-Poisson (8% absent at sf0.01) — fine for split/shuffle
    // decisions, visible here before anyone uses it for variance
    // estimation.
    "x_bootstrap_hist" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar: one row count
      val draws = s.range(n).select(
        pmod(graft.operators.Sampling.hashRank(col("id"), salt = 7L), lit(n))
          .as("drawn"))
      val times = draws.groupBy(col("drawn")).agg(count(lit(1)).as("__t"))
      docs.join(times, col("doc_id") === col("drawn"), "left")
        .select(coalesce(col("__t"), lit(0L)).as("times_drawn"))
        .groupBy(col("times_drawn")).agg(count(lit(1)).as("n_docs"))
    }),

    // Small-cell suppression audit (k-anonymity, k=5): how many
    // (lang, source) cells are too small to release — the privacy
    // check run before publishing per-cell statistics. Two cheap
    // aggregations; integers only.
    "x_small_cells" -> ((s, d) => {
      t(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_cells"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small_cells"),
          coalesce(sum(when(col("n") < 5, col("n"))), lit(0L))
            .as("n_docs_in_small"))
    }),

    // Prefix-blocking collision profile: 50-char text-prefix group
    // sizes — the cheap near-exact-dup blocking key's selectivity
    // (how many candidates a prefix block would generate), read
    // before choosing it over shingle blocking.
    "x_prefix_groups" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(substring(col("text"), 1, 50).as("__p"))
        .agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))),

    // Hapax legomena per language: distinct tokens vs once-occurring
    // tokens — the lexical-richness audit (a shrinking hapax share
    // under corpus growth is the classic mark of boilerplate
    // flooding).
    "x_hapax" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("__c"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_distinct_tokens"),
          sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"))),

    // Intra-doc line dedup stats: lines vs first-occurrence-distinct
    // lines per doc (the boilerplate-line-removal transform's
    // before/after counts) — pure per-row array work, no shuffle at
    // all until the dump.
    "x_dedup_lines" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), "\n", -1)).cast(LongType).as("n_lines"),
        size(array_distinct(split(col("text"), "\n", -1)))
          .cast(LongType).as("n_kept"))),

    // Canonicalization lift on exact dedup: inject an upper-cased,
    // control-junk-suffixed copy of every 5th doc, then count distinct
    // raw texts vs distinct canonical keys (lower ∘ normalizeText) —
    // the measurement that justifies normalizing BEFORE hashing in an
    // exact-dedup pass. countDistinct over full text is the honest
    // formulation at this SF; at 100 TB hash the canonical key first.
    "x_canon_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dirty = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(upper(col("text")), lit("\t\u0007 ")).as("text"))
      docs.unionAll(dirty).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_raw_distinct"),
        countDistinct(
          lower(graft.functions.VectorFunctions.normalizeText(col("text"))))
          .as("n_canon_distinct"))
    }),

    // Filter-agreement audit: Gopher rule keep × classifier keep as a
    // 2×2 matrix over the PLAIN corpus — the comparison a curation
    // owner reads before swapping one cheap filter for the other (or
    // chaining them). Both signals are codegen'd projections; one
    // count shuffle.
    // Reads the shared gopherSignals artifact (filtered to non-null
    // text — no such docs exist in the corpus at any SF, and excluding
    // a text-less doc from a text-quality matrix is the right frame).
    "x_quality_agreement" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val g = gopherSignals(s, d)
        .select(col("doc_id"), col("keep").as("keep_gopher"))
      val c = QualityClassifier.score(docs, "text")
        .select(col("doc_id"), col("keep").cast(IntegerType).as("keep_clf"))
      g.join(c, "doc_id")
        .groupBy(col("keep_gopher"), col("keep_clf"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Vocabulary coverage curve: corpus token coverage at vocab sizes
    // 10/50/100/200/500 — the diminishing-returns read before fixing a
    // tokenizer vocab budget. The ranked top-500 frame is 500 rows
    // (TakeOrderedAndProject + the sorted-array rank idiom — no
    // unpartitioned window); every join side against it broadcasts.
    "x_coverage_curve" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      val ranked = counts
        .orderBy(col("freq").desc, col("token").asc).limit(500)
        .agg(sort_array(collect_list(
          struct((-col("freq")).as("nf"), col("token").as("token")))).as("xs"))
        .select(posexplode(col("xs")))
        .select(col("col.token").as("token"), (col("pos") + 1L).as("rank"),
          (-col("col.nf")).as("freq"))
      val tot = counts.agg(sum(col("freq")).as("n_total"))
      import s.implicits._
      ranked
        .crossJoin(broadcast(Seq(10L, 50L, 100L, 200L, 500L).toDF("k")))
        .groupBy(col("k"))
        .agg(sum(when(col("rank") <= col("k"), col("freq")).otherwise(0L))
          .as("n_covered"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_covered"), col("n_total"))
    }),

    // Session-gap sensitivity sweep: total session count at 15/30/60
    // minute inactivity thresholds from ONE lag pass — sessions(T) =
    // distinct users + gaps exceeding T, so the sweep costs one
    // window, not one sessionization per threshold. The 30-minute row
    // equals x_sessionize's session count (spec-pinned).
    "x_session_gap_sweep" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_utc"))
      val tsUs = unix_micros(col("ts_utc"))
      val gaps = events(s, d)
        .select(col("user_id"), (tsUs - lag(tsUs, 1).over(byUser)).as("__gap"))
      val minute = 60L * 1000000L
      gaps.agg(
          countDistinct(col("user_id")).as("nu"),
          sum(when(col("__gap") > 15L * minute, 1L).otherwise(0L)).as("g15"),
          sum(when(col("__gap") > 30L * minute, 1L).otherwise(0L)).as("g30"),
          sum(when(col("__gap") > 60L * minute, 1L).otherwise(0L)).as("g60"))
        .select(explode(array(
          struct(lit(15L).as("gap_minutes"),
            (col("nu") + col("g15")).as("n_sessions")),
          struct(lit(30L).as("gap_minutes"),
            (col("nu") + col("g30")).as("n_sessions")),
          struct(lit(60L).as("gap_minutes"),
            (col("nu") + col("g60")).as("n_sessions")))).as("r"))
        .select(col("r.gap_minutes").as("gap_minutes"),
          col("r.n_sessions").as("n_sessions"))
    }),

    // Skew-safe salted aggregation: two-stage count on a low-cardinality
    // (hot) key column — result identical to a plain groupBy count.
    "x_salted_count" -> ((s, d) => {
      graft.operators.Skew.saltedCount(t(s, d, "lineitem"), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("cnt"))
    }),

    // End-to-end corpus prep: exact dedup -> MinHash near-dup removal
    // (keep the lower id of each near-dup pair) -> quality floor ->
    // per-language survivor stats. The composition a real training-data
    // pipeline runs. Fully oracle-checked (r4): the near-dup stage is
    // exact-set-equivalent on this corpus (see x_dedup_minhash) and the
    // quality score is portable arithmetic (least/greatest/round over
    // int-derived doubles, same operation order both engines).
    "x_corpus_prep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // near-dup pairs subsume exact dups (jaccard 1.0 >= threshold) for
      // shingle-bearing docs, so drop pair losers first, then exact-dedup
      // the survivors to catch short shingle-less docs — each stage
      // consumes the previous exactly once (no recomputed subtree)
      val nearDupLosers = Dedup.minHashNearDups(
        docs, "doc_id", "text", threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      val surviving = Dedup.exactDedup(
        docs.join(nearDupLosers, Seq("doc_id"), "left_anti"),
        "doc_id", Seq("text"))
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
      surviving
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
    }),

    // Near-dup-leakage-safe split: near-dup clusters (exact ngram pair
    // graph -> connected components) share ONE split label by hashing
    // the cluster root instead of the doc id — a doc in train and its
    // paraphrase in test would otherwise leak eval signal. Oracle
    // closes the pair graph with the x_dedup_clusters recursive CTE and
    // replays the portable split hash on the cluster id.
    "x_cluster_safe_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Sampling.withClusterSafeSplit(
        docs, "doc_id", ngramPairGraph(s, d)._2)
        .select(col("doc_id"), col("cluster_id"), col("split"))
    }),


    // Deterministic 80/10/10 train/val/test split: ROW-LEVEL label per
    // doc, so the oracle verifies exact membership, not just counts.
    // Pure projection (no shuffle, no RNG); the bucket hash is
    // engine-portable.
    "x_hash_split" -> ((s, d) => {
      graft.operators.Sampling.withSplit(t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("lang"), col("split"))
    }),

    // Leakage-safe TEMPORAL split: train up to the exact 80th
    // percentile timestamp, a 7-day embargo gap, test after — the
    // time-series counterpart of x_cluster_safe_split (no event after
    // the cutoff leaks into training, and the embargo absorbs
    // label-window overlap; cf. combinatorial purged CV). The cutoff
    // is the TRUE order statistic from the histogram-narrowing
    // selector (ceil(0.8·n), never a sample) broadcast as one row;
    // epoch-µs values are < 2^53 so the double round-trip is exact.
    "x_temporal_split" -> ((s, d) => {
      val ev = events(s, d).withColumn("__us", unix_micros(col("ts_utc")))
      val cut = graft.operators.Quantiles.exactQuantiles(
          ev.withColumn("__v", col("__us").cast(DoubleType)), "__v", Seq(0.8))
        .select(col("value").cast(LongType).as("__cut"))
      ev.crossJoin(broadcast(cut))
        .withColumn("split",
          when(col("__us") <= col("__cut"), "train")
            .when(col("__us") <= col("__cut") + lit(7L * 86400000000L), "embargo")
            .otherwise("test"))
        .groupBy(col("event_type"), col("split"))
        .agg(count(lit(1)).as("n_events"))
    }),

    // k-fold CV assignment (k=5): per-doc fold membership + a fold-
    // size audit in one frame — the same portable-hash projection as
    // x_hash_split at a different salt, folds as contiguous bucket
    // ranges so they're exactly even in bucket space.
    "x_kfold" -> ((s, d) =>
      graft.operators.Sampling.withFold(t(s, d, "documents"), "doc_id", k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))),

    // Deterministic stratified downsample: keep 50% of 'en', 20% of
    // 'de', drop other strata; survivors' ids are exactly reproducible.
    "x_stratified_sample" -> ((s, d) => {
      graft.operators.Sampling.stratifiedSample(
        t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 500, "de" -> 200))
        .select(col("doc_id"), col("lang"))
    }),

    // Sampler-fairness audit: achieved vs target per-mill rate for
    // the stratified sample, per language — the uniformity check on
    // the deterministic LCG bucketing (a biased hash would over- or
    // under-fill a stratum systematically, skewing every downstream
    // eval built on the sample). Two bounded aggs joined on lang.
    "x_sample_bias_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sampled = graft.operators.Sampling.stratifiedSample(
          docs, "doc_id", "lang", Map("en" -> 500, "de" -> 200))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_corpus"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_corpus"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          when(col("lang") === "en", 500L)
            .when(col("lang") === "de", 200L)
            .otherwise(0L).as("target_permille"))
    }),

    // Vocabulary overlap between source pairs: distinct-token set
    // sizes and intersections (lexical Jaccard derivable exactly) —
    // two sources with near-identical vocabularies add volume, not
    // diversity, to a mixture. The self-join runs on the distinct
    // (source, token) frame: per token the expansion is ≤ |sources|²,
    // never corpus².
    "x_vocab_overlap_sources" -> ((s, d) => {
      // same shape as x_user_overlap_types: per-source vocab sizes as
      // a COUNT window on the distinct frame before the self-join —
      // the two sizes references each re-ran the tokenize+distinct
      // corpus pass (r18 plan audit: 4 scans → 2).
      val st = t(s, d, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .distinct()
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("source"))))
      st.as("a").join(st.as("b"),
          col("a.token") === col("b.token") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_both"),
          min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_both"))
    }),

    // Fingerprint group-size histogram: how large the normalized-
    // exact duplicate groups run (whitespace-normalized rolling-hash
    // identity, the x_fingerprint contract) — the size-2 mass is
    // mirror pairs, a heavy tail means template spam. Two aggs.
    "x_fingerprint_groups" -> ((s, d) =>
      t(s, d, "documents")
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))),

    // Supplier part-coverage histogram: distinct parts each supplier
    // ships → supplier count per coverage level — the last
    // relationship profile of the schema (supplier↔part via the
    // fact table). countDistinct shuffles keys, never pairs.
    "x_supplier_coverage" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
        .groupBy(col("n_parts")).agg(count(lit(1)).as("n_suppliers"))),

    // Exact-content redundancy per source: docs vs distinct text
    // payloads — the byte-level re-crawl factor next to
    // x_dup_rate_by_source's NEAR-dup view (a source can be exact-
    // clean yet near-dup-heavy, and the dedup strategy differs).
    // One agg; countDistinct shuffles hashed texts, never pairs.
    "x_redundancy_by_source" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct_texts"))),

    // Per-source capped sample (≤ 25 docs per source in hash order):
    // the rank filter rides a WindowGroupLimit — map-side top-k per
    // key before the shuffle, spec-pinned.
    "x_per_key_sample" -> ((s, d) =>
      graft.operators.Sampling.perKeySample(
        t(s, d, "documents"), "doc_id", "source", k = 25)
        .select(col("doc_id"), col("source"), col("rn"))),

    // Token-weighted sample (Efraimidis–Spirakis shape, derandomized):
    // 100 docs with the smallest hashRank(id)/n_tokens priority —
    // heavier docs proportionally more likely, replayable because the
    // "randomness" is the portable LCG rank and the priority is ONE
    // IEEE division of two integers (bit-identical in the oracle).
    // TakeOrdered top-k; zero-token docs are unsampleable by
    // construction and filtered.
    "x_weighted_sample" -> ((s, d) => {
      val toks = TextAnalysis.tokenCount(col("text")).cast(LongType)
      t(s, d, "documents")
        .select(col("doc_id"), toks.as("n_tokens"),
          graft.operators.Sampling.hashRank(col("doc_id")).as("__r"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          (col("__r").cast(DoubleType) / col("n_tokens").cast(DoubleType))
            .as("priority"))
        .orderBy(col("priority").asc, col("doc_id").asc)
        .limit(100)
    }),

    // Epoch-2 deterministic shuffle: global pseudo-random training
    // order via range-partitioned sort on the 31-bit hash rank +
    // zipWithIndex numbering (no single-task row_number window).
    "x_epoch_shuffle" -> ((s, d) =>
      graft.operators.Sampling.epochOrder(
        t(s, d, "documents"), "doc_id", epoch = 2)),

    // Length curriculum: quartile bands on n_chars (exact boundaries,
    // ties down), shortest band first, in-band epoch shuffle, global
    // positions via the same zipWithIndex numbering.
    "x_curriculum" -> ((s, d) =>
      graft.operators.Sampling.curriculumOrder(
        t(s, d, "documents"), "doc_id", "n_chars",
        nBands = 4, epoch = 2)),

    // Round-robin source interleave: every source's i-th doc before
    // any source's (i+1)-th — two distributed sorts + zipWithIndex,
    // never a per-source window (5 sources would mean 5 hot tasks).
    "x_interleave" -> ((s, d) =>
      graft.operators.Sampling.interleaveOrder(
        t(s, d, "documents"), "doc_id", "source", epoch = 1)),

    // Winsorized per-type value sums: exact p01/p99 clip boundaries
    // from the narrowing selector, decimal-exact aggregation after a
    // shuffle-free clip projection.
    "x_winsorize" -> ((s, d) => {
      val w = graft.operators.Quantiles.winsorize(
        events(s, d), "value", pLo = 0.01, pHi = 0.99, outCol = "wv")
      w.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec(sum(dec(col("wv")))).cast(DoubleType).as("sum_winsorized"))
    }),

    // Temperature-weighted source mixing (α = 1/2 over per-lang char
    // totals, 60k-char budget): the corpus-composition step. Integer-
    // exact end to end (floor(sqrt) weights + 64-bit floor-division
    // rates + the portable per-mill hash), so the oracle replays the
    // whole derivation including each kept row's rate_mill.
    "x_temperature_mix" -> ((s, d) => {
      graft.operators.Sampling.temperatureMix(
        t(s, d, "documents"), "doc_id", "n_chars", "lang",
        budgetTokens = 60000L)
        .select(col("doc_id"), col("lang"), col("rate_mill"))
    }),

    // The source-level manifest for the same mix: per-source stats the
    // rate was derived from plus the REALIZED kept docs/tokens under
    // the deterministic hash — the allocation table you review before
    // committing a mix. |sources| rows; oracle replays the whole
    // derivation including the kept aggregates.
    "x_mix_manifest" -> ((s, d) => {
      graft.operators.Sampling.mixManifest(
        t(s, d, "documents"), "doc_id", "n_chars", "lang",
        budgetTokens = 60000L)
    }),

    // Cross-document repeated passages (exact-substring dedup family):
    // maximal token spans whose every 8-token window recurs verbatim in
    // >= 2 distinct docs. One corpus-wide shuffle (groupBy window text);
    // the island merge is a per-document window. Oracle replays the
    // window emission + distinct-doc count + gaps-and-islands merge.
    // Served from the shared span frame (see [[passageSpans]]) — the
    // detection shuffle runs once per session; the cut entry reuses it.
    "x_dup_passages" -> ((s, d) => passageSpans(s, d)),

    // The cut step over the same spans: every document rewritten with
    // its duplicated passages deleted (tokens outside all spans, joined
    // by single spaces — exact strings oracle-compared). One equi-join
    // touches the corpus; the cut is a per-row projection.
    "x_cut_passages" -> ((s, d) => {
      Dedup.cutDuplicatePassages(t(s, d, "documents"), "doc_id", "text",
        passageSpans(s, d), n = 8)
    }),

    // Benchmark decontamination: docs sharing 5-gram shingles with the
    // "eval set" (doc_id < 20). Exact-membership oracle; the ratio is a
    // single int/int IEEE division (bit-identical cross-engine).
    "x_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Contamination.overlapCounts(
        docs.filter(col("doc_id") >= 20), "doc_id", "text",
        docs.filter(col("doc_id") < 20), "text", n = 5)
        .select(col("id").as("doc_id"), col("n_overlap"),
          col("n_shingles"), col("overlap_ratio"))
    }),

    // Bloom-path decontamination: same contamination semantics as
    // x_decontaminate but the benchmark shingles collapse to a bloom
    // filter (fixed MBs at ANY benchmark size) probed by a kernel —
    // the eval-suite-too-big-to-broadcast shape. fpp=1e-9 keeps the
    // EXPECTED false-positive count ~1e-3 even at ~1e6 distinct corpus
    // probes (r8 ran fpp=1e-6, where E[FP] ~ 1 — the hash match was an
    // empirical property of the fixed seed that could break at other
    // scale factors), so the EXACT kept-set SQL is a sound hash oracle
    // across the testdata SFs, a few MB of filter either way; removal
    // is a superset of exact by construction at any fpp (spec-pinned).
    "x_decontaminate_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Contamination.decontaminateBloom(
          docs.filter(col("doc_id") >= 20), "doc_id", "text",
          docs.filter(col("doc_id") < 20), "text", n = 5,
          expectedShingles = 1000000L, fpp = 1e-9)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // PII detection + redaction. The corpus is synthetic and PII-free,
    // so deterministic PII is INJECTED by the query itself (same
    // expression on the oracle side) — the regex scrubbing is verified
    // on real matches, not vacuous zeros.
    "x_pii_redact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val augmented = docs.withColumn("text2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast(StringType),
            lit(".7"))).otherwise(lit(""))))
      graft.operators.Pii.piiStats(augmented, "doc_id", "text2")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"),
          col("n_phones"), col("redacted"))
    }),

    // PII incidence per source (same deterministic augment as
    // x_pii_redact so the counts are non-vacuous): docs, docs with
    // ANY hit, and total emails / IPs / phones — the governance
    // table that decides which sources need redaction in the path
    // vs a skip. Same regexp_count kernels, one |sources|-row agg.
    "x_pii_incidence" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val augmented = docs.withColumn("text2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast(StringType),
            lit(".7"))).otherwise(lit(""))))
      graft.operators.Pii.piiStats(augmented, "doc_id", "text2")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_emails") + col("n_ipv4") + col("n_phones") > 0, 1L)
            .otherwise(0L)).as("n_docs_with_pii"),
          sum(col("n_emails").cast(LongType)).as("n_emails"),
          sum(col("n_ipv4").cast(LongType)).as("n_ipv4"),
          sum(col("n_phones").cast(LongType)).as("n_phones"))
    }),

    // Sequence packing (concatenate-and-chunk): per-(lang, bin) doc and
    // token totals. One partitioned window; bin math is integer
    // arithmetic — oracle-exact.
    "x_pack_bins" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tok"))
      graft.operators.Packing.packBins(docs, "doc_id", "n_tok",
          maxTokensPerBin = 512L, partitionCol = "lang")
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    }),

    // JSONL round-trip: write documents as JSON-lines, read back with an
    // explicit schema, aggregate — must equal the direct aggregation
    // (which is what the oracle computes on the parquet).
    // CDC upsert merge: fold a derived update batch (price corrections
    // on every 10th order, tombstones on multiples of 970, inserts at
    // negated keys) into the orders snapshot, last-writer-wins. The
    // max_by merge is partitioning-invariant and the derived batch is
    // deterministic, so the merged snapshot hash-matches a window-based
    // SQL re-derivation.
    "x_upsert_merge" -> ((s, d) => {
      val snap = t(s, d, "orders").select(
        col("o_orderkey"), dec(col("o_totalprice")).as("price"),
        lit(1L).as("version"), lit(false).as("is_delete"))
      val upd = t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          (dec(col("o_totalprice")) + lit(1000)).cast(DecimalType(18, 2)).as("price"),
          lit(2L).as("version"), (col("o_orderkey") % 970 === 0).as("is_delete"))
      // key 0 negates to itself, which would land THREE rows on one key
      // with a (version, src) TIE between its update and insert — Spark
      // breaks ties by payload hash but the oracle's row_number cannot,
      // so keep the insert key space strictly disjoint
      val ins = t(s, d, "orders")
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") =!= 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          dec(col("o_totalprice")).as("price"),
          lit(2L).as("version"), lit(false).as("is_delete"))
      graft.operators.Upsert.mergeSnapshot(snap, upd.unionByName(ins),
          Seq("o_orderkey"), "version", deleteCol = Some("is_delete"))
        .select(col("o_orderkey"), col("price").cast(DoubleType).as("price"),
          col("version"))
    }),

    // Bloom-pruned selective join: build a bloom over the (selective)
    // urgent-high-value order keys, filter lineitem AT THE SCAN before
    // the join's exchange, then join exactly — false positives die in
    // the join, so the result is bit-identical to the plain join and
    // the oracle is the plain join SQL. At 100 TB this is the
    // semi-join reduction that shrinks the fact shuffle to ~the dim's
    // selectivity; BloomPruneSpec asserts the scan-side row reduction.
    "x_bloom_prune" -> ((s, d) => {
      val dim = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val fact = t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
      graft.operators.BloomPrune.semiJoinReduced(
          fact, "l_orderkey", dim, "o_orderkey", expectedItems = 20000)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          dec(sum(dec(col("l_extendedprice")))).cast(DoubleType).as("revenue"))
    }),

    // Keyed snapshot diff: classify every order key as added / removed
    // / changed between the base snapshot and a mutated copy (drops,
    // price bumps, inserts under negated keys). The join moves only
    // (key, xxhash64(payload)) — ~16 bytes/row however wide the table —
    // which is what lets two 100 TB snapshots reconcile cheaply; the
    // oracle re-derives the classification with column-wise
    // IS DISTINCT FROM over a FULL OUTER JOIN.
    "x_snapshot_diff" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val mutated = base.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice")))
        .unionByName(base.filter(col("o_orderkey") % 13 === 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")))
      graft.operators.SnapshotDiff.diff(base, mutated, Seq("o_orderkey"))
    }),

    // Bucketed co-located join: write orders and lineitem bucketed by
    // their join key into the same bucket count, then join WITHOUT a
    // shuffle on either side (BucketingSpec asserts zero Exchanges feed
    // the join). The one-time write cost buys every subsequent
    // fact-to-fact join at 100 TB; results are layout-invariant, so the
    // oracle is the plain join SQL.
    "x_bucketed_join" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val suffix = d.replaceAll("[^A-Za-z0-9]", "_")
      // the two bucketed writes are independent (disjoint paths and
      // catalog names) — overlap them so the lineitem write's bucket
      // sort back-fills the orders write's commit tail (guide §2.6,
      // the index-dataset-write shape; the catalog is thread-safe for
      // distinct table names)
      graft.operators.Actions.runConcurrently(
        () => graft.sources.Bucketing.writeBucketed(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderstatus")),
          s"graft_orders_b_$suffix", s"$base/orders", numBuckets = 8,
          bucketCols = Seq("o_orderkey"), sortCols = Seq("o_orderkey")),
        () => graft.sources.Bucketing.writeBucketed(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
          s"graft_lineitem_b_$suffix", s"$base/lineitem", numBuckets = 8,
          bucketCols = Seq("l_orderkey"), sortCols = Seq("l_orderkey")))
      graft.sources.Bucketing.bucketedEquiJoin(s,
          s"graft_orders_b_$suffix", s"graft_lineitem_b_$suffix",
          Seq("o_orderkey" -> "l_orderkey"))
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(
          dec(sum(dec(col("l_extendedprice")))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Small-file compaction round-trip: fragment documents into 16
    // files, compact back to 1 (byte-derived count), and aggregate the
    // compacted copy. Compaction is content-preserving, so the oracle
    // is the same aggregate over the source table.
    "x_compact_roundtrip" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      t(s, d, "documents").repartition(16)
        .write.mode("overwrite").parquet(s"$base/small")
      val stats = graft.sources.Compaction.compact(
        s, s"$base/small", s"$base/compacted", targetFileBytes = 1L << 30)
      require(stats.filesAfter < stats.filesBefore,
        s"compaction did not reduce files: $stats")
      s.read.parquet(s"$base/compacted")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // CSV round-trip (write + schema'd read-back): completes the
    // format matrix — CSV is the reference's INPUT format; this pins
    // the sink side too. Doubles survive because Spark writes the
    // shortest round-trippable repr; the timestamp goes through an
    // explicit yyyy-MM-dd HH:mm:ss string (CSV has no timestamp type).
    "x_csv_roundtrip" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_csv_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_date"),
          col("o_orderpriority"))
        .write.mode("overwrite").option("header", "true").csv(base)
      s.read.option("header", "true")
        .schema(StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("o_date", StringType),
          StructField("o_orderpriority", StringType))))
        .csv(base)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType).as("total_price"),
          max(col("o_date")).as("max_date"))
    }),

    // Schema evolution: two parquet batches with DIFFERENT column
    // sets (the lake reality — a pipeline added `lang` mid-stream)
    // read back as ONE frame via mergeSchema; absent columns surface
    // as nulls, counted per column. The merge happens at footer level
    // (schema union across files), not a rewrite — at 100 TB this is
    // the only affordable way to widen a table in place.
    "x_schema_evolution" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_schema_evo_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = t(s, d, "documents")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$base/batch1")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$base/batch2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/batch1", s"$base/batch2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("lang")).as("n_with_lang"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Range-clustered layout round-trip: rewrite documents sorted by
    // n_chars (8 range files, tight row-group min/max), then answer a
    // selective range predicate from the clustered copy. Layout is
    // content-neutral so the oracle is the plain WHERE query; the
    // row-group SKIPPING is plan-asserted in RangeLayoutSpec.
    "x_range_layout" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_rangelayout_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.RangeLayout.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        base, Seq("n_chars"), numFiles = 8)
      graft.sources.RangeLayout.read(s, base)
        .filter(col("n_chars").between(200, 400))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Z-order layout round-trip: rewrite documents Morton-clustered on
    // (n_chars, doc_id), then answer a two-column predicate from the
    // clustered copy. Content-neutral (oracle = plain WHERE); the
    // per-dimension row-group skipping — including under skew — is
    // plan-asserted in ZOrderSpec.
    "x_zorder_layout" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.ZOrder.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        base, Seq("n_chars", "doc_id"), numFiles = 8)
      s.read.parquet(base)
        .filter(col("n_chars").between(200, 400) && col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Incremental cardinality via persisted HLL sketches: sketch two
    // ingest increments separately, answer per-lang distinct-token
    // counts by unioning SKETCH BYTES (no rescan of either increment).
    // HLL union is a register-wise max — order-invariant — so the
    // estimate is deterministic; the entry pins it inside a 5% envelope
    // against the exact count, and the oracle re-derives the exact
    // count + the envelope verdict (TRUE) in SQL.
    "x_hll_increments" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_hll_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val toks = t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      graft.operators.Sketches.writeHllSketches(
        toks.filter(col("doc_id") % 2 === 0), Seq("lang"), "token",
        s"$base/inc0", mode = "overwrite")
      graft.operators.Sketches.writeHllSketches(
        toks.filter(col("doc_id") % 2 === 1), Seq("lang"), "token",
        s"$base/inc1", mode = "overwrite")
      val est = graft.operators.Sketches.unionHllEstimates(
        s, Seq(s"$base/inc0", s"$base/inc1"))
      val exact = toks.groupBy(col("lang"))
        .agg(countDistinct(col("token")).as("n_distinct_exact"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), col("n_distinct_exact"),
          (abs(col("n_distinct_est").cast(DoubleType) -
              col("n_distinct_exact").cast(DoubleType)) /
            col("n_distinct_exact").cast(DoubleType) <= 0.05)
            .as("within_tolerance"))
    }),

    // COUNT-MIN frequency estimation — the frequency sibling of the
    // HLL entry and the sketch counterpart of x_heavy_hitters'
    // Misra-Gries: build a 4×512 exact-BIGINT count-min sketch of
    // per-user event counts (the ONLY state — a plan constant at any
    // input volume or key cardinality; the sketch is LINEAR, so
    // increments built independently merge by cell-wise addition in
    // any order — SketchesSpec pins both properties), then point-look-
    // up the exact top-20 users against it. cms_est ≥ n_events ALWAYS
    // (every occurrence lands in all the key's cells; collisions only
    // add) — the overestimate column is the measured price of ~2k
    // counters of state for a frequency answer over any volume; the
    // portable double-modular hash family keeps every cell
    // DuckDB-re-derivable, no goldens.
    "x_cms_topk" -> ((s, d) => {
      val ev = t(s, d, "events")
      val sketch = graft.operators.Sketches.countMinSketch(
        ev, "user_id", width = 512, depth = 4)
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id").asc).limit(20)
      graft.operators.Sketches.countMinLookup(
          sketch, top, "user_id", width = 512, depth = 4)
        .select(col("user_id"), col("n_events"), col("cms_est"),
          (col("cms_est") - col("n_events")).as("overestimate"))
    }),

    // Hive-style partitioned layout: write documents partitioned by
    // lang, answer a partition-column predicate from the copy. The
    // predicate prunes DIRECTORIES at planning time (PartitionFilters —
    // asserted with file-count metrics in PartitionedLayoutSpec, which
    // also pins dynamic partition overwrite); layout is content-neutral
    // so the oracle is the plain WHERE.
    "x_partitioned_scan" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_partitioned_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.PartitionedLayout.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        base, Seq("lang"))
      graft.sources.PartitionedLayout.read(s, base)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // ORC source/sink round-trip (same contract as the JSONL one):
    // layout-invariant aggregate over the re-read copy, so the oracle
    // is the plain aggregate on the source table. Completes the format
    // matrix: CSV in, parquet/JSONL/ORC both ways.
    "x_orc_roundtrip" -> ((s, d) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      t(s, d, "documents").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    "x_jsonl_roundtrip" -> ((s, d) => {
      // path scoped by dataset dir: a fixed path would race concurrent
      // Verify/Bench runs at different SFs (and stale-read across them)
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_roundtrip_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.Jsonl.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
        out, mode = "overwrite")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      graft.sources.Jsonl.read(s, out, schema)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("n_tokens"),
          sum(length(col("text")).cast(LongType)).as("n_chars"))
    }),

    // Token-budget sampling: keep ~3000 tokens per language, hashed
    // order, exact membership. Partitioned-window cumsum + cutoff.
    "x_token_budget" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tok"))
      graft.operators.Sampling.sampleToTokenBudget(
          docs, "doc_id", "n_tok", budgetPerKey = 3000L, partitionCol = "lang")
        .select(col("doc_id"), col("lang"), col("n_tok"))
    }),

    // Real-BPE token counts with the vendored merge table — rows-only
    // (the segmentation is vocabulary-data, not SQL-expressible; the
    // algorithm is pinned by BpeSpec's independent rank-sequential
    // oracle + goldens). Whitespace and proxy counts ride along so the
    // three granularities are comparable in one frame.
    "x_bpe_tokens" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast(LongType).as("n_pretokens"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_ws_tokens"))
    }),

    // Tokenizer-fertility audit per language: BPE tokens and raw
    // chars per lang — tokens/char is the fertility a tokenizer-bias
    // review reads (a language whose text costs 2× the tokens gets
    // half the effective context window; the ratio decides whether
    // the vocab needs rebalancing before a multilingual run). Exact
    // integer legs; null-text docs count as docs, contribute neither.
    "x_bpe_fertility" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("n_bpe_tokens"),
          sum(col("n_chars")).as("n_chars"))),

    // Document fingerprints (rolling hash). The hash VALUES are
    // engine-specific, but the equality PARTITION they induce is not:
    // equal fingerprints ⇔ equal whitespace-token sequences (mod
    // collisions — none at oracle scale). So the catalog emits each
    // doc's group representative (min doc_id over its fingerprint
    // group), which DuckDB reproduces exactly by partitioning on the
    // whitespace-normalized text — a full hash-match oracle for a query
    // whose raw output is unportable. One shuffle (window on the
    // fingerprint key).
    "x_fingerprint" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .withColumn("group_rep",
          min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
        .select(col("doc_id"), col("group_rep"))
    })
  )

  /** DuckDB oracle SQL, keyed identically to [[queries]]. Written against
    * the same parquet tables (driver registers each table name as a view
    * over `$sfDir/<name>.parquet`).
    */
  // the x_ann_ivf_pq / x_pq_index_probe shared oracle (the two
  // entries are bit-identical by construction -- see the entries)
  private val ivfPqOracleSql: String =
    """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |samp AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp.code,
        |    list_transform(generate_series(1, 8), i -> samp.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp CROSS JOIN generate_series(0, 7) AS s(j)),
        |enc AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb.subspace * 8 + i] - cb.cw[i])
        |             * (c.q[cb.subspace * 8 + i] - cb.cw[i]))) ASC,
        |        cb.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb) WHERE rn = 1),
        |cent AS (
        |  SELECT q AS ccode, CAST(row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS cell
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 64),
        |ccc AS (
        |  SELECT cell, ccode,
        |    CAST(list_sum(list_transform(generate_series(1, len(ccode)),
        |      i -> ccode[i] * ccode[i])) AS BIGINT) AS cc
        |  FROM cent),
        |vcell AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, x.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM codes c CROSS JOIN ccc x) WHERE rn = 1),
        |probed AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qc.vec_id AS query_id, x.cell,
        |      row_number() OVER (PARTITION BY qc.vec_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(qc.q)),
        |          i -> qc.q[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM codes qc CROSS JOIN ccc x WHERE qc.vec_id < 5) WHERE rn <= 8),
        |lut AS (
        |  SELECT qc.vec_id AS query_id, cb.subspace, cb.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.q[cb.subspace * 8 + i] * cb.cw[i])) AS BIGINT) AS d
        |  FROM codes qc CROSS JOIN cb WHERE qc.vec_id < 5),
        |scored AS (
        |  SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |  FROM enc e
        |  JOIN vcell vc ON vc.vec_id = e.vec_id
        |  JOIN probed p ON p.cell = vc.cell
        |  JOIN lut l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.code = e.code
        |  GROUP BY l.query_id, e.vec_id)
        |SELECT query_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) AS INTEGER) AS rank,
        |  adc_dot
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc_dot DESC, vec_id ASC) <= 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        |CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // pre-aggregated line totals left-joined onto orders; DECIMAL
    // routing on every money sum so the doubles hash
    "x_reconcile" ->
      """WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
        |      AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS computed
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o.o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN l.computed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_lines,
        |  CAST(CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS DECIMAL(38,2)) * 100 AS BIGINT) AS stored_total_cents,
        |  CAST(CAST(coalesce(CAST(sum(l.computed) AS DECIMAL(18,6)),
        |    CAST(0 AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT)
        |    AS computed_total_micros
        |FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderstatus""".stripMargin,

    "a3_summary_query" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS process_date, o_orderstatus AS status,
        |count(*) AS record_count
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2 ORDER BY process_date DESC, status""".stripMargin,

    "q3_join_agg" ->
      """SELECT o_orderpriority,
        |CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
        |count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "x_reorder_gaps" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) AS day
        |  FROM orders),
        |g AS (
        |  SELECT day - lag(day) OVER (PARTITION BY o_custkey
        |    ORDER BY day, o_orderkey) AS gap
        |  FROM o)
        |SELECT CAST(least(gap, 180) AS BIGINT) AS gap_days,
        |  count(*) AS n_gaps
        |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin,

    "x_supplier_balance" ->
      """SELECT n.n_name,
        |  count(*) AS n_suppliers,
        |  CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_acctbal
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1""".stripMargin,

    "x_region_rollup" ->
      """SELECT r.r_name,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1""".stripMargin,

    "x_top_parts" ->
      """WITH s AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS q,
        |    count(*) AS n_lines
        |  FROM lineitem GROUP BY 1
        |  ORDER BY q DESC, l_partkey ASC LIMIT 15)
        |SELECT p.p_partkey, p.p_name, p.p_brand,
        |  CAST(s.q AS DOUBLE) AS sum_qty, CAST(s.n_lines AS BIGINT) AS n_lines
        |FROM part p JOIN s ON p.p_partkey = s.l_partkey""".stripMargin,

    "q6_filter_agg" ->
      """SELECT
        |CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |count(*) AS n_lines
        |FROM lineitem
        |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q10_returns" ->
      """WITH r AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |      AS DECIMAL(18,4)) AS rev,
        |    count(*) AS n_lines
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY 1 ORDER BY rev DESC, o_custkey ASC LIMIT 20)
        |SELECT c.c_custkey, c.c_name, CAST(r.rev AS DOUBLE) AS revenue,
        |  CAST(r.n_lines AS BIGINT) AS n_lines
        |FROM customer c JOIN r ON c.c_custkey = r.o_custkey""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS q
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) > 300)
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(q AS DOUBLE) AS sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey""".stripMargin,

    "x_ship_latency" ->
      """SELECT o_orderpriority,
        |  CAST(floor((datediff('day', DATE '1970-01-01',
        |      CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE))
        |    - datediff('day', DATE '1970-01-01',
        |      CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE))) / 7.0) AS BIGINT)
        |    AS lat_weeks,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "x_price_qty_moments" ->
      """WITH v AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(y) AS BIGINT) AS sum_qty_hundredths,
        |  CAST(sum(x * y) AS BIGINT) AS sum_xy
        |FROM v GROUP BY 1""".stripMargin,

    "x_user_growth" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1)
        |SELECT CAST(uw.week AS BIGINT) AS week, count(*) AS n_active,
        |  CAST(sum(CASE WHEN uw.week = f.first_week THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new
        |FROM uw JOIN f ON uw.user_id = f.user_id
        |GROUP BY uw.week""".stripMargin,

    "q5_multi_join" ->
      """SELECT n_name,
        |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_topn_per_group" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rnk
        |FROM orders QUALIFY rnk <= 3""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    // the melt replayed as a three-way UNION ALL
    "x_unpivot" ->
      """WITH m AS (
        |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
        |SELECT metric, count(*) AS n_values,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        |FROM m WHERE value IS NOT NULL GROUP BY metric""".stripMargin,

    "x_set_ops" ->
      """SELECT
        |  CAST((SELECT count(*) FROM ((SELECT doc_id FROM documents WHERE lang = 'en')
        |    EXCEPT (SELECT doc_id FROM documents WHERE n_chars >= 300))) AS BIGINT) AS n_en_only,
        |  CAST((SELECT count(*) FROM ((SELECT doc_id FROM documents WHERE lang = 'en')
        |    INTERSECT (SELECT doc_id FROM documents WHERE n_chars >= 300))) AS BIGINT) AS n_en_long,
        |  CAST((SELECT count(*) FROM ((SELECT doc_id FROM documents WHERE n_chars >= 300)
        |    EXCEPT (SELECT doc_id FROM documents WHERE lang = 'en'))) AS BIGINT) AS n_long_only""".stripMargin,

    "x_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "q_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE)
        |  AS cum_price
        |FROM orders""".stripMargin,

    "x_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            > INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sessions AS (
        |  SELECT user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events
        |FROM sessions GROUP BY user_id, session_seq""".stripMargin,

    // latest-prior row per purchase via LATERAL top-1; ts is a native
    // µs TIMESTAMP on both engines (CAST is a no-op kept for schema
    // robustness). The ORDER BY tie-break (ts, then
    // payload fields DESC) mirrors the operator's max-payload-struct
    // rule; (user_id, ts) is unique in the data, so it is belt and
    // braces either way
    "x_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM events
        |), p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |o AS (SELECT * FROM ev WHERE event_type <> 'purchase')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
        |  pr.prior_us, pr.prior_type, pr.prior_value
        |FROM p LEFT JOIN LATERAL (
        |  SELECT epoch_us(o.ts) AS prior_us, o.event_type AS prior_type,
        |    o.value AS prior_value
        |  FROM o
        |  WHERE o.user_id = p.user_id AND o.ts <= p.ts
        |  ORDER BY o.ts DESC, o.event_type DESC, o.value DESC
        |  LIMIT 1
        |) pr ON TRUE""".stripMargin,

    // same lateral; the staleness bound is applied OUTSIDE the lateral
    // pick — the engine takes THE most recent prior row and nulls it
    // when stale (it does not fall further back), so the oracle must
    // do the same, not restrict the lateral's candidate set.
    "x_asof_tolerance" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM events
        |), p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |o AS (SELECT * FROM ev WHERE event_type <> 'purchase')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
        |  CASE WHEN pr.prior_us >= epoch_us(p.ts) - 3600000000 THEN pr.prior_us END AS prior_us,
        |  CASE WHEN pr.prior_us >= epoch_us(p.ts) - 3600000000 THEN pr.prior_type END AS prior_type,
        |  CASE WHEN pr.prior_us >= epoch_us(p.ts) - 3600000000 THEN pr.prior_value END AS prior_value
        |FROM p LEFT JOIN LATERAL (
        |  SELECT epoch_us(o.ts) AS prior_us, o.event_type AS prior_type,
        |    o.value AS prior_value
        |  FROM o
        |  WHERE o.user_id = p.user_id AND o.ts <= p.ts
        |  ORDER BY o.ts DESC, o.event_type DESC, o.value DESC
        |  LIMIT 1
        |) pr ON TRUE""".stripMargin,

    // plain range-predicate join — fine at oracle scale; the engine
    // side replaces it with the bucketed equi-join
    "x_interval_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM events
        |)
        |SELECT p.event_id, count(*) AS n_clicks,
        |  CAST(CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_click_value
        |FROM ev p JOIN ev c
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
        |  AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |GROUP BY p.event_id""".stripMargin,

    // the streaming dedup's watermark delay exceeds the data's event-
    // time span, so its guaranteed output is exactly the distinct key
    // set (the entry projects keys only — the surviving full ROW is
    // arrival-order-dependent by design)
    "x_stream_dedup" ->
      """SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem
        |WHERE CAST(l_shipdate AS TIMESTAMP) IS NOT NULL""".stripMargin,

    // Gaps-and-islands at microsecond precision: a new session starts
    // when the gap is STRICTLY greater than 30 min (an event landing
    // exactly on the previous session's end still merges — pinned by
    // StreamingSpec); session end = last event + gap.
    "x_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE ts IS NOT NULL),
        |marked AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |numbered AS (
        |  SELECT user_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM marked)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |  max(ts_us) + 1800000000 AS session_end_us,
        |  count(*) AS n_events
        |FROM numbered GROUP BY user_id, sess""".stripMargin,

    // Streaming windowed error rate: the aggregation is exact (complete
    // mode, AvailableNow), so the batch-SQL equivalent is a plain
    // hour-truncated group-by with the same rule flags p8 already
    // hash-verifies. Spark's window() aligns to the epoch, which for
    // "1 hour" is exactly date_trunc('hour', ...).
    "x_stream_error_rate" ->
      s"""WITH flags AS (
        |  SELECT CAST(l_shipdate AS TIMESTAMP) AS evt, l_returnflag,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem WHERE CAST(l_shipdate AS TIMESTAMP) IS NOT NULL)
        |SELECT strftime(date_trunc('hour', evt), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  l_returnflag AS return_flag, count(*) AS total_rows,
        |  CAST(sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
        |  CAST(sum(n_err) AS BIGINT) AS error_count
        |FROM flags GROUP BY 1, 2""".stripMargin,

    // Threshold alerting: the fired (key, threshold) SET is exactly
    // "every threshold <= the key's final invalid count" — each fires
    // once, regardless of micro-batch boundaries (the running count is
    // cumulative and thresholds are monotone). Same rule flags the
    // error-rate oracle uses, but NO event-time filter: invalidAlerts
    // has no watermark, so every row counts. Data note: sf lineitem has
    // no null returnflags, so the COALESCE('' key) branch is exercised
    // only by the spec, not the oracle.
    "x_stream_alerts" ->
      s"""WITH flags AS (
        |  SELECT COALESCE(l_returnflag, '') AS key,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem),
        |per_key AS (
        |  SELECT key, sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS invalid
        |  FROM flags GROUP BY key)
        |SELECT key, CAST(t.threshold AS BIGINT) AS threshold
        |FROM per_key, (VALUES (10),(100),(1000),(100000)) t(threshold)
        |WHERE t.threshold <= invalid""".stripMargin,

    // runningCounts' final state per key == plain per-key counts (the
    // counters are monotone; the entry max-aggregates the update sink)
    "x_stream_counts" ->
      s"""WITH flags AS (
        |  SELECT COALESCE(l_returnflag, '') AS key,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem)
        |SELECT key, CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows
        |FROM flags GROUP BY key""".stripMargin,

    // the salted sub-counters merge back to exact per-flag totals; the
    // salt arithmetic is engine-portable (int64, no overflow at these
    // SFs) and n_salts counts the live (flag, salt) state keys
    "x_stream_salted_counts" ->
      s"""WITH flags AS (
        |  SELECT COALESCE(l_returnflag, '') AS key,
        |    (l_orderkey * 2654435761 + l_linenumber) % 8 AS salt,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem)
        |SELECT key, CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
        |  CAST(count(DISTINCT salt) AS BIGINT) AS n_salts
        |FROM flags GROUP BY key""".stripMargin,

    // row-exact replay of the four-batch watermark semantics: wm
    // before batch i = max event time of batches < i − 48 h (µs),
    // survivors dedup to the first arrival per id (batch order) —
    // mirrors lateStreamDir's staging plants exactly
    "x_stream_late_drops" ->
      """WITH p AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |mn AS (SELECT min(epoch_us(ts)) AS tsmin FROM p),
        |b AS (
        |  SELECT event_id, epoch_us(ts) AS us,
        |    (epoch_us(ts) - mn.tsmin) // 86400000000 AS dayoff
        |  FROM p, mn),
        |m AS (SELECT
        |  max(CASE WHEN dayoff < 7 THEN us END) AS m1,
        |  max(CASE WHEN dayoff < 14 THEN us END) AS m12,
        |  max(CASE WHEN dayoff < 21 THEN us END) AS m123 FROM b),
        |staged AS (
        |  SELECT 'f1' AS src_file, 1 AS batch, event_id, us FROM b WHERE dayoff < 7
        |  UNION ALL SELECT 'f2', 2, event_id, us FROM b WHERE dayoff >= 7 AND dayoff < 14
        |  UNION ALL SELECT 'f2', 2, event_id + 2000000000, us FROM b, m
        |    WHERE dayoff < 7 AND us > m.m1 - 129600000000
        |  UNION ALL SELECT 'f3', 3, event_id, us FROM b WHERE dayoff >= 14 AND dayoff < 21
        |  UNION ALL SELECT 'f3', 3, event_id + 1000000000, us FROM b WHERE dayoff < 3
        |  UNION ALL SELECT 'f4', 4, event_id, us FROM b WHERE dayoff >= 21
        |  UNION ALL SELECT 'f4', 4, event_id, us FROM b, m
        |    WHERE dayoff >= 14 AND dayoff < 21 AND us > m.m123 - 129600000000),
        |surv AS (
        |  SELECT s.* FROM staged s, m
        |  WHERE s.batch = 1
        |     OR (s.batch = 2 AND s.us >= m.m1  - 172800000000)
        |     OR (s.batch = 3 AND s.us >= m.m12 - 172800000000)
        |     OR (s.batch = 4 AND s.us >= m.m123 - 172800000000)),
        |first_arrival AS (
        |  SELECT src_file, event_id,
        |    row_number() OVER (PARTITION BY event_id ORDER BY batch) AS rn
        |  FROM surv)
        |SELECT src_file, count(*) AS n_kept,
        |  CAST(sum(event_id) AS BIGINT) AS id_checksum
        |FROM first_arrival WHERE rn = 1
        |GROUP BY src_file""".stripMargin,

    "p2_required_check" ->
      """SELECT o_orderkey,
        |(CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_orderpriority END) IS NULL
        |  AS required_field_missing
        |FROM orders""".stripMargin,

    "p3_not_null" ->
      """SELECT c_custkey,
        |(c_mktsegment IS NULL OR trim(c_mktsegment) = '') AS not_null_violation
        |FROM customer""".stripMargin,

    "p4_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |'RANGE' AS error_type,
        |CASE WHEN l_quantity < 5 THEN 'below' ELSE 'above' END AS bound
        |FROM lineitem WHERE l_quantity < 5 OR l_quantity > 45""".stripMargin,

    "p5_regex" ->
      """SELECT p_partkey, p_brand, 'REGEX' AS error_type
        |FROM part WHERE NOT regexp_matches(p_brand, '^Brand#[0-9]{2}$')""".stripMargin,

    "p6_date_range" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, 'DATE_RANGE' AS error_type
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31'""".stripMargin,

    "p7_lookup_antijoin" ->
      """SELECT l_suppkey, count(*) AS missing_rows FROM lineitem
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey <= 5)
        |GROUP BY l_suppkey""".stripMargin,

    "p8_split_summary" ->
      """WITH flags AS (
        |  SELECT
        |    (CASE WHEN l_quantity < 5 OR l_quantity > 45 THEN 1 ELSE 0 END) AS qty_err,
        |    (CASE WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END) AS disc_err,
        |    (CASE WHEN l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31' THEN 1 ELSE 0 END) AS date_err,
        |    (CASE WHEN l_returnflag IS NULL OR trim(l_returnflag) = '' THEN 1 ELSE 0 END) AS flag_err
        |  FROM lineitem)
        |SELECT count(*) AS total_records,
        |  CAST(sum(CASE WHEN qty_err + disc_err + date_err + flag_err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_records,
        |  CAST(sum(CASE WHEN qty_err + disc_err + date_err + flag_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_records,
        |  CAST(sum(qty_err + disc_err + date_err + flag_err) AS BIGINT) AS error_count
        |FROM flags""".stripMargin,

    "p9_error_fanout" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS field_name, 'RANGE' AS error_type
        |  FROM lineitem WHERE l_quantity < 5 OR l_quantity > 45
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', 'RANGE'
        |  FROM lineitem WHERE l_discount < 0 OR l_discount > 0.05
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_shipdate', 'DATE_RANGE'
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31'""".stripMargin,

    // exact all-pairs jaccard: O(n²) list ops — fine at the oracle's
    // sf0.01 (500 docs); the Spark side is the one that must scale
    "x_dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5""".stripMargin,

    // stage-by-stage composition of the x_dedup_incremental and
    // x_quality_classifier oracle formulations (near-dup batch ids ->
    // NOT IN -> logit >= 0 -> per-lang intake)
    "x_incremental_ingest" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), dup_batch AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh b JOIN sh a ON b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
        |  WHERE CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) >= 0.5
        |), novel AS (
        |  SELECT * FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup_batch)
        |), f AS (
        |  SELECT *,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END AS n_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text),'\s+'), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS mtl
        |  FROM novel
        |), kept AS (
        |  SELECT * FROM f
        |  WHERE -2.0 + 0.02 * n_tok + -10.0 * punct_ratio + 5.0 * stop_ratio + 0.1 * mtl >= 0.0
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
        |FROM kept GROUP BY lang""".stripMargin,

    // same exact pair set as x_dedup_ngram, closed transitively with a
    // recursive min-label propagation: each vertex accumulates every
    // reachable label, so min(comp) is the smallest reachable doc_id —
    // the same component root large-star/small-star converges to
    "x_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |)
        |SELECT id AS doc_id, min(comp) AS cluster_id FROM lbl GROUP BY id""".stripMargin,

    // same pair CTE as x_dedup_ngram, then the 5-round integer
    // PageRank fixed point unrolled as chained CTEs — all-integer //
    // division (positive operands, so DuckDB floor == Spark trunc
    // `div`) reproduces the engine's result bit-exactly
    "x_pair_pagerank" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs
        |), deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
        |), s0 AS (
        |  SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg
        |), s1 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s0 s ON e.src = s.id GROUP BY e.dst
        |), s2 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s1 s ON e.src = s.id GROUP BY e.dst
        |), s3 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s2 s ON e.src = s.id GROUP BY e.dst
        |), s4 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s3 s ON e.src = s.id GROUP BY e.dst
        |), s5 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s4 s ON e.src = s.id GROUP BY e.dst
        |)
        |SELECT id AS doc_id, pr FROM s5""".stripMargin,

    // same recursive component construction, rolled up to the
    // distinct-source spread per cluster
    "x_dup_cluster_sources" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comp AS (
        |  SELECT id AS doc_id, min(comp) AS cluster_id FROM lbl GROUP BY id
        |), spread AS (
        |  SELECT c.cluster_id, count(DISTINCT d.source) AS n_sources
        |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
        |  GROUP BY 1)
        |SELECT CAST(n_sources AS BIGINT) AS n_sources,
        |  count(*) AS n_clusters
        |FROM spread GROUP BY 1""".stripMargin,

    // same pair SQL + closure, rolled up per source
    "x_dup_rate_by_source" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comp AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id
        |)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(count(c.id) AS BIGINT) AS n_dup_members,
        |  CAST(coalesce(sum(CASE WHEN c.id IS NOT NULL AND c.id <> c.comp
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |GROUP BY d.source""".stripMargin,

    // same pair SQL + closure, grouped by component size
    "x_cluster_sizes" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comp AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id
        |), sz AS (
        |  SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp
        |)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size""".stripMargin,

    // per-doc DISTINCT shingles (the projection's contract), then a
    // plain df histogram
    "x_posting_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), post AS (
        |  SELECT u.sg, count(*) AS df
        |  FROM (SELECT unnest(s) AS sg FROM sh) u
        |  GROUP BY u.sg)
        |SELECT CAST(df AS BIGINT) AS df, count(*) AS n_shingles
        |FROM post GROUP BY 1""".stripMargin,

    // cross-multiplied mean comparison — exact DECIMAL both engines
    "q_above_avg" ->
      """WITH st AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
        |    count(*) AS c
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority, count(*) AS n_above_avg
        |FROM orders o JOIN st ON o.o_custkey = st.o_custkey
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * st.c > st.s
        |GROUP BY 1""".stripMargin,

    "x_lifespan_hist" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (max(epoch_us(CAST(ts AS TIMESTAMP))) -
        |     min(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000
        |      AS lifespan_days
        |  FROM events GROUP BY 1)
        |SELECT CAST(lifespan_days AS BIGINT) AS lifespan_days,
        |  count(*) AS n_users
        |FROM u GROUP BY 1""".stripMargin,

    "q4_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity >= 48)
        |GROUP BY 1""".stripMargin,

    // same pair SQL; identical IEEE division then floor(j*10)
    "x_dup_similarity_hist" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pj AS (
        |  SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT CAST(floor(j * 10) AS BIGINT) AS sim_decile,
        |  count(*) AS n_pairs
        |FROM pj WHERE j >= 0.5 GROUP BY 1""".stripMargin,

    "q13_custdist" ->
      """WITH c AS (
        |  SELECT o_custkey, count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT CAST(coalesce(c.n, 0) AS BIGINT) AS c_orders,
        |  count(*) AS n_customers
        |FROM customer cu LEFT JOIN c ON cu.c_custkey = c.o_custkey
        |GROUP BY 1""".stripMargin,

    // shingle count = distinct 3-token windows (0 under 3 tokens);
    // norm_len = the x_normalize_text pipeline's length
    "x_sql_surface" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t <> '') AS ts
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN len(ts) >= 3
        |    THEN len(list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])))
        |    ELSE 0 END AS BIGINT) AS n_shingles,
        |  CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x1f\x7f-\x9f]', ' ', 'g'), '\s+', ' ', 'g')))
        |    AS BIGINT) AS norm_len
        |FROM toks""".stripMargin,

    "x_join_card_hist" ->
      """WITH c AS (
        |  SELECT l_orderkey, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(coalesce(c.n_lines, 0) AS BIGINT) AS lines_per_order,
        |  count(*) AS n_orders
        |FROM orders o LEFT JOIN c ON o.o_orderkey = c.l_orderkey
        |GROUP BY 1""".stripMargin,

    "x_equiwidth_hist" ->
      """WITH mm AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx
        |           FROM lineitem)
        |SELECT CAST(least(9, CAST(floor((l_quantity - mm.mn) /
        |    ((mm.mx - mm.mn) / 10)) AS BIGINT)) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM lineitem, mm GROUP BY 1""".stripMargin,

    // mode via deterministic rank (count desc, id asc) — mirrors the
    // engine's max-struct tie-break
    "x_mode_per_group" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(c AS BIGINT) AS n_events, user_id
        |FROM (SELECT event_type, user_id, c,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY c DESC, user_id ASC) AS rn
        |      FROM c)
        |WHERE rn = 1""".stripMargin,

    "x_open_orders" ->
      """WITH cl AS (
        |  SELECT l_orderkey, max(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE))) AS d1
        |  FROM lineitem GROUP BY 1),
        |iv AS (
        |  SELECT o.o_orderpriority AS prio,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE)) AS d0,
        |    cl.d1
        |  FROM orders o JOIN cl ON o.o_orderkey = cl.l_orderkey),
        |de AS (
        |  SELECT prio, d0 AS day, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT prio, d1 + 1 AS day, -1 AS delta FROM iv),
        |g AS (SELECT prio, day, sum(delta) AS net FROM de GROUP BY 1, 2)
        |SELECT prio AS o_orderpriority, CAST(day AS BIGINT) AS day,
        |  CAST(net AS BIGINT) AS net,
        |  CAST(sum(net) OVER (PARTITION BY prio ORDER BY day) AS BIGINT)
        |    AS n_open
        |FROM g""".stripMargin,

    // same pair SQL; symmetric edges, one middle-vertex join
    "x_khop_reach" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM pr
        |  UNION ALL
        |  SELECT id_b AS u, id_a AS v FROM pr
        |), two AS (
        |  SELECT a.u AS u, b.v AS v FROM e a JOIN e b ON a.v = b.u
        |  WHERE a.u <> b.v
        |), r AS (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT u, v FROM e UNION ALL SELECT u, v FROM two)
        |)
        |SELECT u AS doc_id, count(*) AS n_within_2
        |FROM r GROUP BY u""".stripMargin,

    "x_source_balance" ->
      """WITH st AS (
        |  SELECT source,
        |    sum(CASE WHEN trim(text) = '' THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END) AS tok
        |  FROM documents GROUP BY source)
        |SELECT
        |  (SELECT CAST(sum(abs(a.tok - b.tok)) AS BIGINT) FROM st a, st b)
        |    AS sum_abs_diff,
        |  (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_sources,
        |  (SELECT CAST(sum(tok) AS BIGINT) FROM st) AS total_tokens""".stripMargin,

    // same pair SQL; census over the canonical (id_a < id_b) edges
    "x_triad_census" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), e AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), deg AS (
        |  SELECT id, count(*) AS deg
        |  FROM (SELECT id_a AS id FROM e UNION ALL SELECT id_b AS id FROM e)
        |  GROUP BY id
        |), tri AS (
        |  SELECT count(*) AS t
        |  FROM e ab JOIN e bc ON ab.id_b = bc.id_a
        |    JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b
        |)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(coalesce(sum((deg * (deg - 1)) // 2), 0) AS BIGINT)
        |     FROM deg) AS n_wedges,
        |  (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles""".stripMargin,

    "x_dow_profile" ->
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS BIGINT) AS dow_idx,
        |  event_type, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    // exact integer KS numerator on the 1/16 dyadic grid: same
    // midpoint split; value*16.0 is an exact dyadic scaling in IEEE
    // doubles, so floor + BIGINT cast lands every row in the same
    // cell as Spark's LongType floor. RANGE vs ROWS frames agree
    // because the window runs over per-(type,cell) DISTINCT rows
    "x_ks_drift" ->
      """WITH m AS (
        |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP))) +
        |          max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |e AS (
        |  SELECT event_type, CAST(floor(value * 16.0) AS BIGINT) AS cell,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= (SELECT mid FROM m)
        |      THEN 1 ELSE 0 END AS s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |c AS (
        |  SELECT event_type, cell,
        |    sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM e GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type,
        |    sum(c0) OVER (PARTITION BY event_type ORDER BY cell) AS f0,
        |    sum(c1) OVER (PARTITION BY event_type ORDER BY cell) AS f1
        |  FROM c),
        |tot AS (SELECT event_type, sum(c0) AS n_a, sum(c1) AS n_b
        |        FROM c GROUP BY 1)
        |SELECT t.event_type, CAST(t.n_a AS BIGINT) AS n_a,
        |  CAST(t.n_b AS BIGINT) AS n_b,
        |  CAST(max(abs(f0 * t.n_b - f1 * t.n_a)) AS BIGINT) AS ks_num
        |FROM cum JOIN tot t USING (event_type)
        |GROUP BY t.event_type, t.n_a, t.n_b""".stripMargin,

    // decile edges via the same CAST-to-DOUBLE rank arithmetic the
    // engine uses (ceil(q*n) in IEEE — never DuckDB DECIMAL literals,
    // whose exact products can flip a boundary rank); one edge row
    // per q, duplicates preserved
    "x_bin_drift" ->
      """WITH m AS (
        |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP))) +
        |          max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |v AS (
        |  SELECT event_type, value,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= (SELECT mid FROM m)
        |      THEN 1 ELSE 0 END AS s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |o AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |e AS (
        |  SELECT o.value AS b
        |  FROM o, n,
        |    (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q) qq
        |  WHERE o.rn = greatest(1,
        |    CAST(ceil(CAST(qq.q AS DOUBLE) * n.n) AS BIGINT)))
        |SELECT event_type,
        |  CAST((SELECT count(*) FROM e WHERE e.b < v.value) AS BIGINT) AS bin,
        |  CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |FROM v GROUP BY 1, 2""".stripMargin,

    // same whitespace tokenization as x_vocab_topk; bigrams formed
    // in-list (interior empty tokens are impossible after trim+split,
    // so filtering empties before vs after pairing agrees)
    "x_bigram_colloc" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t <> '') AS ts
        |  FROM documents),
        |bi AS (
        |  SELECT b[1] AS w1, b[2] AS w2
        |  FROM (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |          i -> [ts[i], ts[i+1]])) AS b
        |        FROM toks WHERE len(ts) >= 2)),
        |top AS (
        |  SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2
        |  ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT 20),
        |uni AS (
        |  SELECT t AS w, count(*) AS n
        |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t)
        |SELECT top.w1, top.w2, CAST(top.n_pair AS BIGINT) AS n_pair,
        |  CAST(u1.n AS BIGINT) AS n_w1, CAST(u2.n AS BIGINT) AS n_w2
        |FROM top JOIN uni u1 ON u1.w = top.w1
        |         JOIN uni u2 ON u2.w = top.w2""".stripMargin,

    "x_oov_rate" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS freq FROM toks GROUP BY token
        |    ORDER BY freq DESC, token ASC LIMIT 200))
        |SELECT t.lang, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov
        |FROM toks t LEFT JOIN v ON t.token = v.token
        |GROUP BY t.lang""".stripMargin,

    // same injection + blocking + levenshtein (identical definition,
    // no transpositions, both engines); blocks over 1000 rows excluded
    // the prefix pass (p1) of the multipass SQL — same substitution
    // fixture, same blocking, so the engine's provenance filter and
    // this single-pass SQL agree row-for-row
    "x_fuzzy_match" ->
      """WITH t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title, substring(title, 1, 6) AS blk FROM titles
        |  WHERE title IS NOT NULL),
        |sz AS (SELECT blk, count(*) AS c FROM b GROUP BY blk),
        |ok AS (SELECT b.* FROM b JOIN sz USING (blk) WHERE sz.c <= 1000)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |FROM ok a JOIN ok c ON a.blk = c.blk AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.title, c.title) <= 2""".stripMargin,

    // two blocking passes (prefix; positive-index suffix) unioned
    // DISTINCT — the multi-pass recall answer, same levenshtein
    // verify; the injected substitution sits INSIDE the prefix key
    "x_fuzzy_multipass" ->
      """WITH t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title,
        |    substring(title, 1, 6) AS blk1,
        |    substring(title, greatest(1, length(title) - 5), 6) AS blk2
        |  FROM titles WHERE title IS NOT NULL),
        |p1 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) c
        |    ON a.blk1 = c.blk1 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |p2 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) c
        |    ON a.blk2 = c.blk2 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2)
        |SELECT DISTINCT id_a, id_b, dist FROM (
        |  SELECT * FROM p1 UNION ALL SELECT * FROM p2)""".stripMargin,

    // the multipass pair SQL with per-pass provenance flags, audited
    // into one integer row
    "x_fuzzy_pass_recall" ->
      """WITH t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title,
        |    substring(title, 1, 6) AS blk1,
        |    substring(title, greatest(1, length(title) - 5), 6) AS blk2
        |  FROM titles WHERE title IS NOT NULL),
        |p1 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) c
        |    ON a.blk1 = c.blk1 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |p2 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) c
        |    ON a.blk2 = c.blk2 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |pr AS (
        |  SELECT id_a, id_b, dist,
        |    max(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS in_prefix,
        |    max(CASE WHEN src = 2 THEN 1 ELSE 0 END) AS in_suffix
        |  FROM (SELECT p1.*, 1 AS src FROM p1
        |        UNION ALL SELECT p2.*, 2 AS src FROM p2)
        |  GROUP BY id_a, id_b, dist)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(in_prefix) AS BIGINT) AS n_prefix,
        |  CAST(sum(in_suffix) AS BIGINT) AS n_suffix,
        |  CAST(sum(CASE WHEN in_prefix = 1 AND in_suffix = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN id_b >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_typo_pairs,
        |  CAST(sum(CASE WHEN id_b >= 10000000 THEN in_prefix ELSE 0 END)
        |    AS BIGINT) AS n_typo_prefix
        |FROM pr""".stripMargin,

    // the multipass pair SQL + the recursive min-label closure +
    // min-id survivorship (the x_dedup_clusters pattern)
    "x_golden_records" ->
      """WITH RECURSIVE t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title,
        |    substring(title, 1, 6) AS blk1,
        |    substring(title, greatest(1, length(title) - 5), 6) AS blk2
        |  FROM titles WHERE title IS NOT NULL),
        |p1 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) c
        |    ON a.blk1 = c.blk1 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |p2 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) c
        |    ON a.blk2 = c.blk2 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |pairs AS (SELECT DISTINCT id_a, id_b FROM
        |  (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comp AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id)
        |SELECT t.doc_id FROM titles t
        |LEFT JOIN comp ON t.doc_id = comp.id
        |WHERE comp.id IS NULL OR comp.comp = t.doc_id""".stripMargin,

    // the pair/closure CTEs + both split labelings (id hash vs
    // cluster-id hash, same LCG), crossings counted per pair
    "x_split_leakage" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comps AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id
        |), lab AS (
        |  SELECT d.doc_id,
        |    CASE WHEN (((((d.doc_id % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 800 THEN 'train'
        |         WHEN (((((d.doc_id % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CASE WHEN (((((COALESCE(c.comp, d.doc_id) % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 800 THEN 'train'
        |         WHEN (((((COALESCE(c.comp, d.doc_id) % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS safe_split
        |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
        |)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked_plain,
        |  CAST(sum(CASE WHEN a.safe_split <> b.safe_split THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked_safe
        |FROM pairs p JOIN lab a ON p.id_a = a.doc_id
        |JOIN lab b ON p.id_b = b.doc_id""".stripMargin,

    // same recursive component closure; the survivor is the longest
    // member (ties to the lower id), singletons all survive
    "x_dedup_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comp AS (
        |  SELECT id AS doc_id, min(comp) AS cluster_id FROM lbl GROUP BY id
        |), mem AS (
        |  SELECT d.doc_id, c.cluster_id, d.n_chars
        |  FROM documents d JOIN comp c USING (doc_id)
        |), win AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
        |    FROM mem) WHERE rn = 1)
        |SELECT d.doc_id, d.n_chars
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |WHERE c.doc_id IS NULL OR d.doc_id IN (SELECT doc_id FROM win)""".stripMargin,

    // identical formulation to x_dedup_minhash's oracle: both operators
    // compute the same exact pair set at this threshold
    "x_dedup_ngram" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5""".stripMargin,

    // same shingle CTE as the Jaccard family; containment divides the
    // intersection by the SMALLER set instead of the union
    "x_dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(least(len(a.s), len(b.s)) AS DOUBLE) AS containment
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(least(len(a.s), len(b.s)) AS DOUBLE) >= 0.7""".stripMargin,

    // funnel CTEs as x_funnel; inner joins keep completers only;
    // quantile_cont == Spark percentile (type-7, the quality-bands
    // precedent)
    "x_conversion_latency" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |comp AS (
        |  SELECT epoch_us(t3) - epoch_us(t1) AS gap
        |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)),
        |n AS (SELECT count(*) AS n FROM comp),
        |r AS (SELECT gap, row_number() OVER (ORDER BY gap) AS rn FROM comp)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM comp) AS n_completed,
        |  (SELECT CAST(gap AS BIGINT) FROM r, n
        |   WHERE rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))) AS p50_us,
        |  (SELECT CAST(gap AS BIGINT) FROM r, n
        |   WHERE rn = greatest(1, CAST(ceil(0.9 * n.n) AS BIGINT))) AS p90_us,
        |  (SELECT CAST(max(gap) AS BIGINT) FROM comp) AS max_us""".stripMargin,

    // degree = pair-endpoint multiplicity; histogram over the
    // pair-bounded frame
    "x_dup_degree" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), deg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT id_a AS doc_id FROM pairs
        |    UNION ALL SELECT id_b AS doc_id FROM pairs)
        |  GROUP BY doc_id)
        |SELECT CAST(degree AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_docs
        |FROM deg GROUP BY degree""".stripMargin,

    // epoch-week integer cohorts; DuckDB // is floor division and
    // Spark div truncates, identical on the positive day domain
    "x_retention" ->
      """WITH fs AS (
        |  SELECT user_id, min(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS d0
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |coh AS (SELECT user_id, d0 // 7 AS cohort_week FROM fs),
        |cs AS (SELECT cohort_week, count(*) AS n_cohort FROM coh GROUP BY cohort_week),
        |act AS (
        |  SELECT DISTINCT user_id, datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS w
        |  FROM events),
        |ret AS (
        |  SELECT coh.cohort_week, act.w - coh.cohort_week AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_active
        |  FROM coh JOIN act USING (user_id)
        |  WHERE act.w >= coh.cohort_week
        |  GROUP BY 1, 2)
        |SELECT ret.cohort_week, ret.week_offset, ret.n_active,
        |       CAST(cs.n_cohort AS BIGINT) AS n_cohort
        |FROM ret JOIN cs USING (cohort_week)""".stripMargin,

    // lag to find state changes, lead over the SURVIVING change rows
    // to close intervals; open runs carry the -1 sentinel
    "x_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
        |  FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY t, event_id) AS prev
        |  FROM e),
        |chg AS (
        |  SELECT user_id, event_type, t, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS state, t AS valid_from_us,
        |  coalesce(lead(t) OVER (
        |    PARTITION BY user_id ORDER BY t, event_id), -1) AS valid_to_us
        |FROM chg""".stripMargin,

    // open intervals only (no lead), per state
    "x_scd2_current" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
        |  FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY t, event_id) AS prev
        |  FROM e),
        |chg AS (
        |  SELECT user_id, event_type, t, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |iv AS (
        |  SELECT user_id, event_type AS state,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nxt
        |  FROM chg)
        |SELECT state, count(*) AS n_users
        |FROM iv WHERE nxt IS NULL GROUP BY 1""".stripMargin,

    // dense 6-hour bucket grid via generate_series over the corpus
    // span, left-joined onto the counts; gaps are explicit zeros
    "x_resample" ->
      """WITH h AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS bucket
        |  FROM events),
        |span AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM h),
        |keys AS (SELECT DISTINCT event_type FROM events),
        |grid AS (
        |  SELECT k.event_type, unnest(generate_series(s.b0, s.b1)) AS bucket
        |  FROM keys k, span s),
        |c AS (SELECT event_type, bucket, count(*) AS n FROM h GROUP BY 1, 2)
        |SELECT grid.event_type, CAST(grid.bucket AS BIGINT) AS bucket,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |FROM grid LEFT JOIN c USING (event_type, bucket)""".stripMargin,

    // lead over the same (ts, event_id) per-user order; n_from summed
    // off the pair counts (sum(BIGINT) is HUGEINT in DuckDB — cast back)
    // (rank−1)/(rows−1): same integer inputs → bit-identical doubles
    "x_percent_rank" ->
      """WITH dcount AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        |  percent_rank() OVER (PARTITION BY event_type ORDER BY n) AS pr
        |FROM dcount""".stripMargin,

    "x_minhash_bucket_hist" ->
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL)
        |SELECT bucket_size, n_buckets
        |FROM read_parquet('/root/repo/tools/golden/minhash_bucket_hist.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // same doubled-rank Spearman numerator, lag-7 self-join
    "x_seasonal_corr" ->
      """WITH dcount AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.n, b.n AS n7
        |  FROM dcount a JOIN dcount b
        |    ON a.event_type = b.event_type AND a.day = b.day + 7),
        |r AS (
        |  SELECT event_type,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY n)
        |      + count(*) OVER (PARTITION BY event_type, n) - 1 AS rv,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY n7)
        |      + count(*) OVER (PARTITION BY event_type, n7) - 1 AS rt
        |  FROM j)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum((rv - rt) * (rv - rt)) AS BIGINT) AS d2x4
        |FROM r GROUP BY 1""".stripMargin,

    // doubled tie-averaged ranks (2r = 2·rank + ties − 1) keep the
    // Spearman numerator integral; ranks over the daily-count series
    "x_rank_corr" ->
      """WITH dcount AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY n_events)
        |      + count(*) OVER (PARTITION BY event_type, n_events) - 1 AS rv,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY day)
        |      + count(*) OVER (PARTITION BY event_type, day) - 1 AS rt
        |  FROM dcount)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum((rv - rt) * (rv - rt)) AS BIGINT) AS d2x4
        |FROM r GROUP BY 1""".stripMargin,

    "x_event_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pairs AS (
        |  SELECT from_type, to_type, count(*) AS n_pairs
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
        |        FROM pairs GROUP BY 1)
        |SELECT pairs.from_type, pairs.to_type, pairs.n_pairs, tot.n_from
        |FROM pairs JOIN tot USING (from_type)""".stripMargin,

    // two stacked leads over the same per-user order; the top-20 cut
    // breaks count ties path-ascending on both engines
    "x_event_paths" ->
      """WITH p AS (
        |  SELECT event_type AS e0,
        |         lead(event_type, 1) OVER w AS e1,
        |         lead(event_type, 2) OVER w AS e2
        |  FROM events WHERE event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n_paths
        |FROM p WHERE e2 IS NOT NULL
        |GROUP BY 1 ORDER BY n_paths DESC, path ASC LIMIT 20""".stripMargin,

    // exact rank buckets ((rn-1)*5 // n + 1) over (metric, key) — the
    // engine's ntile-free formula; monetary decimal-exact then DOUBLE
    "x_user_rfm" ->
      """WITH mx AS (
        |  SELECT max(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS dmax FROM events),
        |ag AS (
        |  SELECT user_id,
        |    CAST((SELECT dmax FROM mx) - max(datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS BIGINT) AS r_days,
        |    count(*) AS f,
        |    CAST(coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)),
        |      CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS m
        |  FROM events GROUP BY user_id),
        |n AS (SELECT count(*) AS n FROM ag)
        |SELECT user_id, r_days, f, m,
        |  CAST((row_number() OVER (ORDER BY r_days DESC, user_id) - 1) * 5
        |    // (SELECT n FROM n) + 1 AS BIGINT) AS r_score,
        |  CAST((row_number() OVER (ORDER BY f ASC, user_id) - 1) * 5
        |    // (SELECT n FROM n) + 1 AS BIGINT) AS f_score,
        |  CAST((row_number() OVER (ORDER BY m ASC, user_id) - 1) * 5
        |    // (SELECT n FROM n) + 1 AS BIGINT) AS m_score
        |FROM ag""".stripMargin,

    // same pair formulation as x_dedup_ngram, resolved to unordered
    // source pairs and counted
    "x_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), lab AS (
        |  SELECT least(da.source, db.source) AS source_a,
        |         greatest(da.source, db.source) AS source_b
        |  FROM pairs
        |  JOIN documents da ON pairs.id_a = da.doc_id
        |  JOIN documents db ON pairs.id_b = db.doc_id)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY source_a, source_b""".stripMargin,

    // same pair SQL as x_source_overlap, lang attribute
    "x_dup_pairs_by_lang" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), lab AS (
        |  SELECT least(da.lang, db.lang) AS lang_a,
        |         greatest(da.lang, db.lang) AS lang_b
        |  FROM pairs
        |  JOIN documents da ON pairs.id_a = da.doc_id
        |  JOIN documents db ON pairs.id_b = db.doc_id)
        |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY lang_a, lang_b""".stripMargin,

    // RANGE frame over integer days; DECIMAL window sum both engines
    "x_rolling_value_7d" ->
      """WITH dsum AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |  CAST(CAST(sum(s) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2))
        |    AS DOUBLE) AS sum_7d
        |FROM dsum""".stripMargin,

    // gaps-and-islands: island id = day - row_number over distinct days
    "x_streak_hist" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS island
        |  FROM ud),
        |st AS (SELECT user_id, island, count(*) AS len
        |       FROM isl GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(len) AS max_streak FROM st GROUP BY 1)
        |SELECT CAST(max_streak AS BIGINT) AS max_streak, count(*) AS n_users
        |FROM mx GROUP BY 1""".stripMargin,

    "x_events_per_user_hist" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS events_per_user
        |  FROM events GROUP BY 1)
        |SELECT CAST(events_per_user AS BIGINT) AS events_per_user,
        |  count(*) AS n_users
        |FROM c GROUP BY 1""".stripMargin,

    "x_gap_hist" ->
      """WITH g AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) -
        |    lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |      OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events)
        |SELECT CAST(least(gap // 60000000, 120) AS BIGINT) AS gap_minutes,
        |  count(*) AS n_gaps
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // same shingle/jaccard formulation as x_dedup_minhash, restricted to
    // (batch, corpus) cross pairs
    "x_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
        |  CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) AS jaccard
        |FROM sh b JOIN sh a ON b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
        |WHERE CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) >= 0.5""".stripMargin,

    // compaction permutes file placement only — the probe over the
    // repacked seed index matches the same exact-Jaccard formulation,
    // restricted to (non-seed batch, seed-class corpus) cross pairs
    "x_minhash_compact" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
        |  CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) AS jaccard
        |FROM sh b JOIN sh a ON b.doc_id % 4 <> 0 AND a.doc_id % 4 = 0
        |WHERE CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) >= 0.5""".stripMargin,

    // the sequential fold re-derived without recursion: file k IS
    // micro-batch k and the index grows by the WHOLE batch, so doc x
    // (x.doc_id % 4 = k, k in 1..3) survives iff no doc y seen in an
    // earlier stage (y.doc_id % 4 < k: the base index or an earlier
    // file) has exact Jaccard >= 0.5 with it. Docs without 3-gram
    // shingles (< 3 tokens, empty or null text) can never match and
    // are always kept — both engines exclude them from the pair side.
    "x_stream_dedup_index" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), dropped AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM sh x JOIN sh y
        |    ON y.doc_id % 4 < x.doc_id % 4
        |   AND CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        |       (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
        |  WHERE x.doc_id % 4 <> 0
        |)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 4 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,

    // the within-batch variant: the index-drop rule above, PLUS drop
    // every doc with a smaller-id exact-Jaccard near-dup among its own
    // batch's index-novel rows (both endpoints index-novel — the
    // engine's intra pass runs after the index anti-join)
    "x_stream_ingest_within" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), idx_dropped AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM sh x JOIN sh y
        |    ON y.doc_id % 4 < x.doc_id % 4
        |   AND CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        |       (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
        |  WHERE x.doc_id % 4 <> 0
        |), wb_dropped AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM sh x JOIN sh y
        |    ON y.doc_id % 4 = x.doc_id % 4
        |   AND y.doc_id < x.doc_id
        |   AND CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        |       (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
        |  WHERE x.doc_id % 4 <> 0
        |    AND x.doc_id NOT IN (SELECT doc_id FROM idx_dropped)
        |    AND y.doc_id NOT IN (SELECT doc_id FROM idx_dropped)
        |)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 4 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM idx_dropped)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM wb_dropped)""".stripMargin,

    // exact int8 top-k among previously-seen vectors (the engine
    // probes ALL cells — see the entry), quantization re-derived as in
    // x_ann_int8; "seen" = smaller vec_id%4 class, self excluded
    "x_stream_ann_ingest" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |scored AS (
        |  SELECT x.vec_id AS query_id, y.vec_id AS id,
        |    COALESCE(CAST(list_sum(list_transform(generate_series(1, len(y.q)),
        |      i -> y.q[i] * x.q[i])) AS BIGINT), 0) AS int_dot
        |  FROM codes x JOIN codes y
        |    ON y.vec_id % 4 < x.vec_id % 4 AND y.vec_id <> x.vec_id
        |  WHERE x.vec_id % 4 <> 0)
        |SELECT query_id, id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY int_dot DESC, id ASC) AS INTEGER) AS rank,
        |  int_dot
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY int_dot DESC, id ASC) <= 5""".stripMargin,

    // the pruned-probe fold: quantizers re-derived from the SEED class
    // (vec_id%4=0) hash minima, every vector encoded/routed under
    // them, "seen" = smaller vec_id%4 class, per-batch query slice =
    // the 256 smallest (hashRank, id) of the class, ADC over the
    // queries' top-8 cells — the ivfPqOracleSql derivation folded
    "x_stream_pq_ingest" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |samp AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes WHERE vec_id % 4 = 0
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp.code,
        |    list_transform(generate_series(1, 8), i -> samp.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp CROSS JOIN generate_series(0, 7) AS s(j)),
        |cent AS (
        |  SELECT q AS ccode, CAST(row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS cell
        |  FROM codes WHERE vec_id % 4 = 0
        |  QUALIFY row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 64),
        |ccc AS (
        |  SELECT cell, ccode,
        |    CAST(list_sum(list_transform(generate_series(1, len(ccode)),
        |      i -> ccode[i] * ccode[i])) AS BIGINT) AS cc
        |  FROM cent),
        |enc AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb.subspace * 8 + i] - cb.cw[i])
        |             * (c.q[cb.subspace * 8 + i] - cb.cw[i]))) ASC,
        |        cb.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb) WHERE rn = 1),
        |vcell AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, x.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM codes c CROSS JOIN ccc x) WHERE rn = 1),
        |qsel AS (
        |  SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id % 4 <> 0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % 4 ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |probed AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qc.query_id, x.cell,
        |      row_number() OVER (PARTITION BY qc.query_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(qc.qq)),
        |          i -> qc.qq[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM qsel qc CROSS JOIN ccc x) WHERE rn <= 8),
        |lut AS (
        |  SELECT qc.query_id, cb.subspace, cb.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.qq[cb.subspace * 8 + i] * cb.cw[i])) AS BIGINT) AS d
        |  FROM qsel qc CROSS JOIN cb),
        |scored AS (
        |  SELECT l.query_id, e.vec_id AS id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |  FROM enc e
        |  JOIN vcell vc ON vc.vec_id = e.vec_id
        |  JOIN probed p ON p.cell = vc.cell
        |  JOIN lut l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.code = e.code
        |  WHERE e.vec_id % 4 < l.query_id % 4
        |  GROUP BY l.query_id, e.vec_id)
        |SELECT query_id, id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, id ASC) AS INTEGER) AS rank,
        |  adc_dot
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc_dot DESC, id ASC) <= 5""".stripMargin,

    // fingerprint-group invariant: equal rolling-hash fingerprints ⇔
    // equal whitespace-token sequences ⇔ equal whitespace-normalized
    // text, so the group representative is engine-independent even
    // though the fingerprint values are not
    "x_fingerprint" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (
        |    PARTITION BY regexp_replace(trim(text), '\s+', ' ', 'g')) AS group_rep
        |FROM documents""".stripMargin,

    "s6_error_report" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS field_name, 'RANGE' AS error_type
        |    FROM lineitem WHERE l_quantity < 5 OR l_quantity > 45
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', 'RANGE'
        |    FROM lineitem WHERE l_discount < 0 OR l_discount > 0.05
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_shipdate', 'DATE_RANGE'
        |    FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31'
        |) ORDER BY l_orderkey, l_linenumber, field_name LIMIT 10""".stripMargin,

    "p10_rename_projection" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        |l_quantity AS quantity, l_returnflag AS return_flag,
        |l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem""".stripMargin,

    "s5_truncate" ->
      """SELECT doc_id, substr(text, 1, 255) AS field_value, length(text) AS text_len
        |FROM documents""".stripMargin,

    "a7_profile" ->
      """SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
        |  count(*) - count(l_quantity) AS n_nulls,
        |  count(DISTINCT l_quantity) AS n_distinct,
        |  CAST(min(l_quantity) AS DOUBLE) AS min_value,
        |  CAST(max(l_quantity) AS DOUBLE) AS max_value FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |  count(DISTINCT l_returnflag), NULL, NULL FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', count(*), count(*) - count(l_suppkey),
        |  count(DISTINCT l_suppkey),
        |  CAST(min(l_suppkey) AS DOUBLE), CAST(max(l_suppkey) AS DOUBLE)
        |FROM lineitem""".stripMargin,

    "a1_duplicate_check" ->
      """SELECT l_partkey, l_suppkey, count(*) AS dup_count
        |FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    "a4_unique_daily" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_day, user_id, count(*) AS cnt
        |FROM events GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    // (user, day) collapse + per-user RANGE window over day ordinals
    "x_rolling_activity" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, n_events,
        |  CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY d
        |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_events_roll
        |FROM daily""".stripMargin,

    // greedy-earliest strict chain: each step is a min over events
    // later than the previous step's resolved time; -1 sentinel keeps
    // the epoch-µs columns non-null (dtype-stable across engines)
    "x_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  epoch_us(t1) AS t1_us,
        |  coalesce(epoch_us(t2), -1) AS t2_us,
        |  coalesce(epoch_us(t3), -1) AS t3_us,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 WHEN t3 IS NULL THEN 1 ELSE 2 END
        |    AS INTEGER) AS steps_reached,
        |  CAST(t3 IS NOT NULL AND epoch_us(t3) - epoch_us(t1) <= 86400000000
        |    AS INTEGER) AS converted
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    // identical SQL to x_funnel: the bounded replay makes the
    // streaming funnel oracle-equal to the batch one
    "x_stream_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  epoch_us(t1) AS t1_us,
        |  coalesce(epoch_us(t2), -1) AS t2_us,
        |  coalesce(epoch_us(t3), -1) AS t3_us,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 WHEN t3 IS NULL THEN 1 ELSE 2 END
        |    AS INTEGER) AS steps_reached,
        |  CAST(t3 IS NOT NULL AND epoch_us(t3) - epoch_us(t1) <= 86400000000
        |    AS INTEGER) AS converted
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    // two-pass integer moments; mean/E[X2] one division each, variance
    // clamped at zero, IEEE sqrt correctly rounded — the comparison
    // inputs are bit-identical, so the 0/1 flags hash-match
    "x_daily_anomalies" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT user_id, count(*) AS n_days,
        |         sum(n_events) AS s1, sum(n_events * n_events) AS s2
        |  FROM daily GROUP BY user_id)
        |SELECT daily.user_id, strftime(d, '%Y-%m-%d') AS day, n_events,
        |  CAST(CAST(n_events AS DOUBLE) >
        |    (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) +
        |     2.0 * sqrt(greatest(CAST(0.0 AS DOUBLE),
        |       CAST(s2 AS DOUBLE) / CAST(n_days AS DOUBLE) -
        |       (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) *
        |       (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)))))
        |    AS INTEGER) AS is_anomaly
        |FROM daily JOIN stats USING (user_id)""".stripMargin,

    "a5_zscore_outlier" ->
      """WITH s AS (SELECT avg(value) AS m, stddev_samp(value) AS sd FROM events)
        |SELECT event_id, value FROM events, s
        |WHERE abs((value - m) / sd) > 3.0""".stripMargin,

    "a6_referential_integrity" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey <= 100)""".stripMargin,

    "x_dedup_exact" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""".stripMargin,

    "x_dedup_groups" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    // NOT isnan(c) mirrors the Spark side's NaN filter: a zero vector's
    // cosine is undefined, and DuckDB sorts NaN ABOVE all numbers under
    // DESC — without the guard a zero vector would take rank 1 here
    // while Spark excludes it
    // Hyperplane-LSH outputs are engine-specific (deterministic
    // splitmix64 planes) but fully deterministic, so they verify against
    // committed goldens produced by an independent Python kernel replay
    // (tools/gen_lsh_golden.py — bit-exact doubles via identical
    // accumulation order). corpus_key picks the golden subset for the
    // embeddings table under test: floor/power-of-two/integer-sum
    // arithmetic is exact in both engines, and an unseen corpus selects
    // zero golden rows — a loud row-count failure, never a silent pass.
    // zero-norm vectors excluded on both sides up front (mirrors the
    // engine's explicit norm filter)
    "x_knn_graph" ->
      """WITH nz AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0.0),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS id,
        |         list_cosine_similarity(c.embedding, q.embedding) AS cos
        |  FROM nz c JOIN nz q ON c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT query_id, id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, id ASC) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, id, rank FROM ranked WHERE rank <= 5""".stripMargin,

    // Production ANN graph = corpus-keyed golden replay (the banding
    // is engine-hash-specific; tools/gen_lsh_golden.py replays the
    // kernel bit-exactly, same scheme as x_ann_lsh).
    "x_knn_graph_ann" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id, rank
        |FROM read_parquet('/root/repo/tools/golden/knn_graph_ann.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // ANN-graph side = the golden replay; exact side = the x_knn_graph
    // brute-force rank SQL (self excluded on both sides); recall =
    // per-query hit count against exact top-5, missing queries 0.
    "x_knn_graph_recall" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |g AS (
        |  SELECT query_id, id
        |  FROM read_parquet('/root/repo/tools/golden/knn_graph_ann.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |nz AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0.0),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS id,
        |         list_cosine_similarity(c.embedding, q.embedding) AS cos
        |  FROM nz c JOIN nz q ON c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, id FROM (
        |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, id ASC) AS rank
        |    FROM pairs) WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, count(*) AS n_hits
        |  FROM exact e JOIN g ON e.query_id = g.query_id AND e.id = g.id
        |  GROUP BY e.query_id)
        |SELECT ex.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       ex.k
        |FROM (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id) ex
        |LEFT JOIN hits h ON ex.query_id = h.query_id""".stripMargin,

    // exact-kNN brute-force rank SQL (same as x_knn_graph) + one-hop
    // majority vote; arg-max tie-break = smallest label, mirrored by
    // the ORDER BY n DESC, l ASC row_number filter
    "x_label_propagation" ->
      """WITH nz AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0.0),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS id,
        |         list_cosine_similarity(c.embedding, q.embedding) AS cos
        |  FROM nz c JOIN nz q ON c.vec_id <> q.vec_id),
        |knn AS (
        |  SELECT query_id, id FROM (
        |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, id ASC) AS rank
        |    FROM pairs) WHERE rank <= 5),
        |votes AS (
        |  SELECT k.query_id, CAST(e.label AS BIGINT) AS l, count(*) AS n
        |  FROM knn k JOIN embeddings e ON k.id = e.vec_id
        |  GROUP BY 1, 2),
        |win AS (
        |  SELECT query_id, l, n, row_number() OVER (PARTITION BY query_id
        |    ORDER BY n DESC, l ASC) AS rn
        |  FROM votes)
        |SELECT query_id, l AS label_pred, CAST(n AS BIGINT) AS n_votes
        |FROM win WHERE rn = 1""".stripMargin,

    "x_ann_lsh" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id, rank
        |FROM read_parquet('/root/repo/tools/golden/lsh_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // Same replay-golden scheme (tools/gen_hash_goldens.py — includes a
    // from-spec Python XXH64 independent of Spark's port) for the two
    // remaining engine-hash entries. The documents corpus_key is
    // sum((doc_id+1) * length(text)) — code-point length, exact integer
    // arithmetic in both engines.
    "x_dedup_simhash" ->
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL)
        |SELECT id_a, id_b, hamming
        |FROM read_parquet('/root/repo/tools/golden/simhash_pairs.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // simhash side = golden replay; exact side = the shared pair SQL;
    // full-outer agreement counts
    "x_simhash_vs_exact" ->
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/simhash_pairs.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), ex AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), f AS (
        |  SELECT g.id_a AS sa, ex.id_a AS ea
        |  FROM g FULL OUTER JOIN ex
        |    ON g.id_a = ex.id_a AND g.id_b = ex.id_b)
        |SELECT CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN sa IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only,
        |  CAST(sum(CASE WHEN sa IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f""".stripMargin,

    // est side = corpus-keyed golden replay of the MinHash signature +
    // banding kernels (tools/gen_hash_goldens.py); exact side = the
    // live all-pairs Jaccard SQL, as in x_simhash_vs_exact
    "x_minhash_vs_exact" ->
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), ex AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), f AS (
        |  SELECT g.id_a AS ma, ex.id_a AS ea
        |  FROM g FULL OUTER JOIN ex
        |    ON g.id_a = ex.id_a AND g.id_b = ex.id_b)
        |SELECT CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN ma IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
        |  CAST(sum(CASE WHEN ma IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f""".stripMargin,

    // both signature widths against the same live exact-pair CTE;
    // goldens are the 64- and 16-hash kernel replays
    "x_minhash_sweep" ->
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL),
        |g64 AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |g16 AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs16.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), ex AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), f64 AS (
        |  SELECT g64.id_a AS ma, ex.id_a AS ea
        |  FROM g64 FULL OUTER JOIN ex
        |    ON g64.id_a = ex.id_a AND g64.id_b = ex.id_b),
        |f16 AS (
        |  SELECT g16.id_a AS ma, ex.id_a AS ea
        |  FROM g16 FULL OUTER JOIN ex
        |    ON g16.id_a = ex.id_a AND g16.id_b = ex.id_b)
        |SELECT CAST(64 AS BIGINT) AS n_hashes,
        |  CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN ma IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
        |  CAST(sum(CASE WHEN ma IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f64
        |UNION ALL
        |SELECT CAST(16 AS BIGINT) AS n_hashes,
        |  CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN ma IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
        |  CAST(sum(CASE WHEN ma IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f16""".stripMargin,

    "x_ann_ivf" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id, rank
        |FROM read_parquet('/root/repo/tools/golden/ivf_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    "x_diversity_sample" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT cell, pos, id
        |FROM read_parquet('/root/repo/tools/golden/diversity_sample.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    "x_ivf_cell_hist" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT cell_size, n_cells
        |FROM read_parquet('/root/repo/tools/golden/ivf_cell_hist.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    "x_ivf_label_purity" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |a AS (
        |  SELECT g.cell, e.label
        |  FROM read_parquet('/root/repo/tools/golden/ivf_cells.parquet') g, ck,
        |    embeddings e
        |  WHERE g.corpus_key = ck.k AND g.vec_id = e.vec_id),
        |c AS (SELECT cell, label, count(*) AS n FROM a GROUP BY 1, 2),
        |r AS (SELECT cell, label, n,
        |        row_number() OVER (PARTITION BY cell ORDER BY n DESC, label ASC)
        |          AS rn,
        |        sum(n) OVER (PARTITION BY cell) AS tot
        |      FROM c)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(tot AS BIGINT) AS n_vecs,
        |  CAST(label AS BIGINT) AS top_label, CAST(n AS BIGINT) AS top_label_n
        |FROM r WHERE rn = 1""".stripMargin,

    // IVF side per probe level = the corpus-keyed sweep golden; exact
    // side = the live brute-force rank SQL (as x_ann_recall)
    "x_ann_probe_sweep" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |g AS (
        |  SELECT n_probe, query_id, id
        |  FROM read_parquet('/root/repo/tools/golden/ivf_probe_sweep.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id,
        |         list_cosine_similarity(e.embedding, q.qv) AS c
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id ASC) AS rn
        |  FROM scored),
        |ex AS (SELECT qid, id FROM ranked WHERE rn <= 10),
        |probes AS (SELECT DISTINCT n_probe FROM g)
        |SELECT p.n_probe, ex.qid AS query_id,
        |  CAST(count(g.id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM probes p CROSS JOIN ex
        |LEFT JOIN g ON g.n_probe = p.n_probe
        |  AND g.query_id = ex.qid AND g.id = ex.id
        |GROUP BY 1, 2""".stripMargin,

    // IVF side = the corpus-keyed golden replay (same as x_ann_ivf);
    // exact side = the x_knn_graph brute-force rank SQL with self
    // INCLUDED (both engine frames keep the query vector, so recall
    // counts it consistently on both sides)
    "x_ann_recall" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |g AS (
        |  SELECT query_id, id
        |  FROM read_parquet('/root/repo/tools/golden/ivf_topk.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id,
        |         list_cosine_similarity(e.embedding, q.qv) AS c
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id ASC) AS rn
        |  FROM scored),
        |ex AS (SELECT qid, id FROM ranked WHERE rn <= 10)
        |SELECT ex.qid AS query_id,
        |  CAST(count(g.id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM ex LEFT JOIN g ON g.query_id = ex.qid AND g.id = ex.id
        |GROUP BY ex.qid""".stripMargin,

    // codes + integer dots recomputed directly (the x_embed_quantize
    // replay recipe); COALESCE guards a zero-length vector to the
    // kernel's 0
    "x_ann_int8" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
        |scored AS (
        |  SELECT qs.query_id, c.vec_id,
        |    COALESCE(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |      i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) AS int_dot
        |  FROM codes c CROSS JOIN qs)
        |SELECT query_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY int_dot DESC, vec_id ASC) AS INTEGER) AS rank,
        |  int_dot
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY int_dot DESC, vec_id ASC) <= 10""".stripMargin,

    // exact side forced through the kernel's arithmetic: widen each
    // float to double, multiply, and accumulate via list_reduce — a
    // left fold seeded at 0.0, SEQUENTIAL BY DEFINITION, so the
    // ranking stays bit-identical to Spark's sequential dot kernel
    // even if a future DuckDB reassociates list_sum (pairwise/simd
    // summation could flip a near-tie at the rank-10 boundary)
    "x_int8_recall" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
        |q8 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, c.vec_id ASC) AS rn
        |    FROM codes c CROSS JOIN qs) WHERE rn <= 10),
        |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |fex AS (
        |  SELECT query_id, id FROM (
        |    SELECT fq.query_id, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.query_id ORDER BY
        |        COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(generate_series(1, len(e.embedding)),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(fq.qv[i] AS DOUBLE))),
        |          (a, b) -> a + b), 0.0)
        |        DESC, e.vec_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN fq) WHERE rn <= 10)
        |SELECT fex.query_id,
        |  CAST(count(q8.vec_id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM fex LEFT JOIN q8 ON q8.query_id = fex.query_id AND q8.vec_id = fex.id
        |GROUP BY fex.query_id""".stripMargin,

    // sign words re-packed by a plain acc*2+bit fold over 32-bit
    // windows (MSB-first generate_series(31,0,-1) so bit j lands at
    // 2^j) — every word < 2^32, so DuckDB's overflow-CHECKED BIGINT
    // arithmetic replays Java's packing exactly; out-of-range
    // elements index to NULL → CASE 0, matching the kernel's trailing
    // zero bits. Distance = Σ bit_count(xor), integers end to end.
    "x_ann_bq" ->
      """WITH words AS (
        |  SELECT vec_id,
        |    list_transform(generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INTEGER) - 1),
        |      w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(generate_series(31, 0, -1),
        |               j -> CASE WHEN CAST(embedding[w * 32 + j + 1] AS DOUBLE) > 0
        |                    THEN 1 ELSE 0 END)),
        |           (acc, b) -> acc * 2 + b)) AS bw
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, bw AS qw FROM words WHERE vec_id < 5),
        |scored AS (
        |  SELECT qs.query_id, c.vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(c.bw)),
        |      i -> bit_count(xor(c.bw[i], qs.qw[i])))) AS BIGINT) AS hamming
        |  FROM words c CROSS JOIN qs)
        |SELECT query_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY hamming ASC, vec_id ASC) AS INTEGER) AS rank,
        |  hamming
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY hamming ASC, vec_id ASC) <= 10""".stripMargin,

    // BQ side = the x_ann_bq packing; exact side = the float cosine
    // ranking (list_cosine_similarity, the x_ann_recall exact-leg
    // idiom — self included on both sides)
    "x_bq_recall" ->
      """WITH words AS (
        |  SELECT vec_id,
        |    list_transform(generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INTEGER) - 1),
        |      w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(generate_series(31, 0, -1),
        |               j -> CASE WHEN CAST(embedding[w * 32 + j + 1] AS DOUBLE) > 0
        |                    THEN 1 ELSE 0 END)),
        |           (acc, b) -> acc * 2 + b)) AS bw
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, bw AS qw FROM words WHERE vec_id < 5),
        |bq AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        CAST(list_sum(list_transform(generate_series(1, len(c.bw)),
        |          i -> bit_count(xor(c.bw[i], qs.qw[i])))) AS BIGINT) ASC,
        |        c.vec_id ASC) AS rn
        |    FROM words c CROSS JOIN qs) WHERE rn <= 10),
        |fq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |fex AS (
        |  SELECT qid, id FROM (
        |    SELECT fq.qid, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.qid ORDER BY
        |        list_cosine_similarity(e.embedding, fq.qv) DESC, e.vec_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN fq) WHERE rn <= 10)
        |SELECT fex.qid AS query_id,
        |  CAST(count(bq.id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM fex LEFT JOIN bq ON bq.query_id = fex.qid AND bq.id = fex.id
        |GROUP BY fex.qid""".stripMargin,

    // the prefix-dim grid re-derived: full-vector int8 codes, dots
    // over generate_series(1, d) only — integers end to end; the
    // d = 64 stratum doubles as the identity rail (n_hits = k)
    "x_mrl_recall" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
        |dims AS (SELECT CAST(d AS INTEGER) AS d FROM (VALUES (16), (32), (64)) AS t(d)),
        |ranked AS (
        |  SELECT dims.d, qs.query_id, c.vec_id,
        |    row_number() OVER (PARTITION BY dims.d, qs.query_id ORDER BY
        |      COALESCE(CAST(list_sum(list_transform(generate_series(1, dims.d),
        |        i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, c.vec_id ASC) AS rn
        |  FROM codes c CROSS JOIN qs CROSS JOIN dims),
        |a AS (SELECT d, query_id, vec_id FROM ranked WHERE rn <= 10),
        |ref AS (SELECT query_id, vec_id FROM a WHERE d = 64)
        |SELECT a.d, a.query_id,
        |  CAST(count(ref.vec_id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM a LEFT JOIN ref ON ref.query_id = a.query_id AND ref.vec_id = a.vec_id
        |GROUP BY a.d, a.query_id""".stripMargin,

    // stage 1 = the x_ann_bq packing at rn <= 100; stage 2 = the int8
    // integer dot restricted to the shortlist; exact leg = cosine
    // (the x_bq_recall reference, so the pair reads as one experiment)
    "x_bq_rerank" ->
      """WITH words AS (
        |  SELECT vec_id,
        |    list_transform(generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INTEGER) - 1),
        |      w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(generate_series(31, 0, -1),
        |               j -> CASE WHEN CAST(embedding[w * 32 + j + 1] AS DOUBLE) > 0
        |                    THEN 1 ELSE 0 END)),
        |           (acc, b) -> acc * 2 + b)) AS bw
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, bw AS qw FROM words WHERE vec_id < 5),
        |cand AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        CAST(list_sum(list_transform(generate_series(1, len(c.bw)),
        |          i -> bit_count(xor(c.bw[i], qs.qw[i])))) AS BIGINT) ASC,
        |        c.vec_id ASC) AS rn
        |    FROM words c CROSS JOIN qs) WHERE rn <= 100),
        |codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |iqs AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
        |rr AS (
        |  SELECT query_id, id FROM (
        |    SELECT cand.query_id, cand.id,
        |      row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * iqs.qq[i])) AS BIGINT), 0) DESC, cand.id ASC) AS rn
        |    FROM cand
        |    JOIN codes c ON c.vec_id = cand.id
        |    JOIN iqs ON iqs.query_id = cand.query_id) WHERE rn <= 10),
        |fq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |fex AS (
        |  SELECT qid, id FROM (
        |    SELECT fq.qid, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.qid ORDER BY
        |        list_cosine_similarity(e.embedding, fq.qv) DESC, e.vec_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN fq) WHERE rn <= 10)
        |SELECT fex.qid AS query_id,
        |  CAST(count(rr.id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM fex LEFT JOIN rr ON rr.query_id = fex.qid AND rr.id = fex.id
        |GROUP BY fex.qid""".stripMargin,

    // stage 1 = prefix-16 integer dots at rn <= 100; stage 2 = the
    // full-dim integer dot over the shortlist; reference = the
    // full-dim int8 top-10 (the x_mrl_recall d=64 rail)
    "x_mrl_rerank" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
        |cand AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, 16),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, c.vec_id ASC) AS rn
        |    FROM codes c CROSS JOIN qs) WHERE rn <= 100),
        |rr AS (
        |  SELECT query_id, id FROM (
        |    SELECT cand.query_id, cand.id,
        |      row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, cand.id ASC) AS rn
        |    FROM cand
        |    JOIN codes c ON c.vec_id = cand.id
        |    JOIN qs ON qs.query_id = cand.query_id) WHERE rn <= 10),
        |ref AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, c.vec_id ASC) AS rn
        |    FROM codes c CROSS JOIN qs) WHERE rn <= 10)
        |SELECT ref.query_id,
        |  CAST(count(rr.id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM ref LEFT JOIN rr ON rr.query_id = ref.query_id AND rr.id = ref.id
        |GROUP BY ref.query_id""".stripMargin,

    // every rung's CTE chain verbatim from its own oracle (int8 codes,
    // sign words, the flat-PQ codebook→encode→LUT pipeline), unioned
    // and counted against the one cosine ground-truth leg
    "x_ann_pareto" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
        |words AS (
        |  SELECT vec_id,
        |    list_transform(generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INTEGER) - 1),
        |      w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(generate_series(31, 0, -1),
        |               j -> CASE WHEN CAST(embedding[w * 32 + j + 1] AS DOUBLE) > 0
        |                    THEN 1 ELSE 0 END)),
        |           (acc, b) -> acc * 2 + b)) AS bw
        |  FROM embeddings),
        |wqs AS (SELECT vec_id AS query_id, bw AS qw FROM words WHERE vec_id < 5),
        |samp AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp.code,
        |    list_transform(generate_series(1, 8), i -> samp.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp CROSS JOIN generate_series(0, 7) AS s(j)),
        |enc AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb.subspace * 8 + i] - cb.cw[i])
        |             * (c.q[cb.subspace * 8 + i] - cb.cw[i]))) ASC,
        |        cb.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb) WHERE rn = 1),
        |lut AS (
        |  SELECT qc.vec_id AS query_id, cb.subspace, cb.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.q[cb.subspace * 8 + i] * cb.cw[i])) AS BIGINT) AS d
        |  FROM codes qc CROSS JOIN cb WHERE qc.vec_id < 5),
        |pq AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc DESC, vec_id ASC) AS rn
        |    FROM (SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc
        |          FROM enc e JOIN lut l ON l.subspace = e.subspace AND l.code = e.code
        |          GROUP BY l.query_id, e.vec_id)) WHERE rn <= 10),
        |i8 AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, c.vec_id ASC) AS rn
        |    FROM codes c CROSS JOIN qs) WHERE rn <= 10),
        |m32 AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, 32),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, c.vec_id ASC) AS rn
        |    FROM codes c CROSS JOIN qs) WHERE rn <= 10),
        |m16 AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT qs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY qs.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, 16),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, c.vec_id ASC) AS rn
        |    FROM codes c CROSS JOIN qs) WHERE rn <= 10),
        |bq AS (
        |  SELECT query_id, vec_id AS id FROM (
        |    SELECT wqs.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY wqs.query_id ORDER BY
        |        CAST(list_sum(list_transform(generate_series(1, len(c.bw)),
        |          i -> bit_count(xor(c.bw[i], wqs.qw[i])))) AS BIGINT) ASC,
        |        c.vec_id ASC) AS rn
        |    FROM words c CROSS JOIN wqs) WHERE rn <= 10),
        |fq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |fex AS (
        |  SELECT qid, id FROM (
        |    SELECT fq.qid, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.qid ORDER BY
        |        list_cosine_similarity(e.embedding, fq.qv) DESC, e.vec_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN fq) WHERE rn <= 10),
        |legs AS (
        |  SELECT 'f32_exact' AS method, 256 AS bytes_per_vec, qid AS query_id, id FROM fex
        |  UNION ALL SELECT 'int8', 64, query_id, id FROM i8
        |  UNION ALL SELECT 'mrl32', 32, query_id, id FROM m32
        |  UNION ALL SELECT 'mrl16', 16, query_id, id FROM m16
        |  UNION ALL SELECT 'pq_m8', 8, query_id, id FROM pq
        |  UNION ALL SELECT 'bq', 8, query_id, id FROM bq)
        |SELECT method, CAST(bytes_per_vec AS INTEGER) AS bytes_per_vec,
        |  CAST(count(f.id) AS BIGINT) AS n_hits, count(*) AS k
        |FROM legs l LEFT JOIN fex f ON f.qid = l.query_id AND f.id = l.id
        |GROUP BY method, bytes_per_vec""".stripMargin,

    // the full PQ pipeline re-derived: int8 codes → hash-order-sampled
    // codebook (the Sampling.hashRank double-modular formula — all
    // intermediates < 2^63, sign-safe for non-negative vec_id) →
    // integer-L2 argmin encode (ties → smallest code) → per-query
    // integer LUT → grouped ADC sum → top-10. Every arithmetic step is
    // BIGINT-exact, so no goldens and no float-order hazards anywhere.
    "x_ann_pq" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |samp AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp.code,
        |    list_transform(generate_series(1, 8), i -> samp.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp CROSS JOIN generate_series(0, 7) AS s(j)),
        |enc AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb.subspace * 8 + i] - cb.cw[i])
        |             * (c.q[cb.subspace * 8 + i] - cb.cw[i]))) ASC,
        |        cb.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb) WHERE rn = 1),
        |lut AS (
        |  SELECT qc.vec_id AS query_id, cb.subspace, cb.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.q[cb.subspace * 8 + i] * cb.cw[i])) AS BIGINT) AS d
        |  FROM codes qc CROSS JOIN cb WHERE qc.vec_id < 5),
        |scored AS (
        |  SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |  FROM enc e JOIN lut l ON l.subspace = e.subspace AND l.code = e.code
        |  GROUP BY l.query_id, e.vec_id)
        |SELECT query_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) AS INTEGER) AS rank,
        |  adc_dot
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc_dot DESC, vec_id ASC) <= 10""".stripMargin,

    // PQ top-10 (as x_ann_pq) vs the float exact side (the pinned
    // list_reduce left fold of x_int8_recall) — recall joined per query
    "x_pq_recall" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |samp AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp.code,
        |    list_transform(generate_series(1, 8), i -> samp.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp CROSS JOIN generate_series(0, 7) AS s(j)),
        |enc AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb.subspace * 8 + i] - cb.cw[i])
        |             * (c.q[cb.subspace * 8 + i] - cb.cw[i]))) ASC,
        |        cb.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb) WHERE rn = 1),
        |lut AS (
        |  SELECT qc.vec_id AS query_id, cb.subspace, cb.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.q[cb.subspace * 8 + i] * cb.cw[i])) AS BIGINT) AS d
        |  FROM codes qc CROSS JOIN cb WHERE qc.vec_id < 5),
        |pq AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |    FROM enc e JOIN lut l ON l.subspace = e.subspace AND l.code = e.code
        |    GROUP BY l.query_id, e.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) <= 10),
        |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |fex AS (
        |  SELECT query_id, id FROM (
        |    SELECT fq.query_id, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.query_id ORDER BY
        |        COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(generate_series(1, len(e.embedding)),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(fq.qv[i] AS DOUBLE))),
        |          (a, b) -> a + b), 0.0)
        |        DESC, e.vec_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN fq) WHERE rn <= 10)
        |SELECT fex.query_id,
        |  CAST(count(pq.vec_id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM fex LEFT JOIN pq ON pq.query_id = fex.query_id AND pq.vec_id = fex.id
        |GROUP BY fex.query_id""".stripMargin,

    // x_pq_recall's CTE chain with the top-10 ADC cut widened to a
    // top-100 shortlist, an int8 integer-dot rescore over the
    // shortlist, and the same exact float-dot ground-truth leg
    "x_pq_rerank" ->
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |samp AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp.code,
        |    list_transform(generate_series(1, 8), i -> samp.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp CROSS JOIN generate_series(0, 7) AS s(j)),
        |enc AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb.subspace * 8 + i] - cb.cw[i])
        |             * (c.q[cb.subspace * 8 + i] - cb.cw[i]))) ASC,
        |        cb.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb) WHERE rn = 1),
        |lut AS (
        |  SELECT qc.vec_id AS query_id, cb.subspace, cb.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.q[cb.subspace * 8 + i] * cb.cw[i])) AS BIGINT) AS d
        |  FROM codes qc CROSS JOIN cb WHERE qc.vec_id < 5),
        |short AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |    FROM enc e JOIN lut l ON l.subspace = e.subspace AND l.code = e.code
        |    GROUP BY l.query_id, e.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) <= 100),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
        |rr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT sh.query_id, sh.vec_id,
        |      row_number() OVER (PARTITION BY sh.query_id ORDER BY
        |        COALESCE(CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * qs.qq[i])) AS BIGINT), 0) DESC, sh.vec_id ASC) AS rn
        |    FROM short sh
        |    JOIN codes c ON c.vec_id = sh.vec_id
        |    JOIN qs ON qs.query_id = sh.query_id) WHERE rn <= 10),
        |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |fex AS (
        |  SELECT query_id, id FROM (
        |    SELECT fq.query_id, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.query_id ORDER BY
        |        COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(generate_series(1, len(e.embedding)),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(fq.qv[i] AS DOUBLE))),
        |          (a, b) -> a + b), 0.0)
        |        DESC, e.vec_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN fq) WHERE rn <= 10)
        |SELECT fex.query_id,
        |  CAST(count(rr.vec_id) AS BIGINT) AS n_hits,
        |  count(*) AS k
        |FROM fex LEFT JOIN rr ON rr.query_id = fex.query_id AND rr.vec_id = fex.id
        |GROUP BY fex.query_id""".stripMargin,

    // the ivfPqOracleSql derivation twice over the union corpus
    // (base ∪ abs-folded increment at id+10000000): the FROZEN
    // quantizers sample from base ids only, the FRESH ones from the
    // union; drifted queries, exact float-dot ground truth, recall
    // counted per variant
    "x_ann_refresh_gain" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    list_transform(embedding, x -> abs(x)) AS embedding
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM u)),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes
        |       WHERE vec_id >= 10000000 AND vec_id < 10000020),
        |sampf AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes WHERE vec_id < 10000000
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cbf AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, sampf.code,
        |    list_transform(generate_series(1, 8), i -> sampf.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM sampf CROSS JOIN generate_series(0, 7) AS s(j)),
        |centf AS (
        |  SELECT q AS ccode, CAST(row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS cell
        |  FROM codes WHERE vec_id < 10000000
        |  QUALIFY row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 64),
        |cccf AS (
        |  SELECT cell, ccode,
        |    CAST(list_sum(list_transform(generate_series(1, len(ccode)),
        |      i -> ccode[i] * ccode[i])) AS BIGINT) AS cc
        |  FROM centf),
        |encf AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cbf.subspace, cbf.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cbf.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cbf.subspace * 8 + i] - cbf.cw[i])
        |             * (c.q[cbf.subspace * 8 + i] - cbf.cw[i]))) ASC,
        |        cbf.code ASC) AS rn
        |    FROM codes c CROSS JOIN cbf) WHERE rn = 1),
        |vcellf AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, x.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM codes c CROSS JOIN cccf x) WHERE rn = 1),
        |probedf AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qc.query_id, x.cell,
        |      row_number() OVER (PARTITION BY qc.query_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(qc.qq)),
        |          i -> qc.qq[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM qs qc CROSS JOIN cccf x) WHERE rn <= 8),
        |lutf AS (
        |  SELECT qc.query_id, cbf.subspace, cbf.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.qq[cbf.subspace * 8 + i] * cbf.cw[i])) AS BIGINT) AS d
        |  FROM qs qc CROSS JOIN cbf),
        |topf AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |    FROM encf e
        |    JOIN vcellf vc ON vc.vec_id = e.vec_id
        |    JOIN probedf p ON p.cell = vc.cell
        |    JOIN lutf l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.code = e.code
        |    GROUP BY l.query_id, e.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) <= 10),
        |qsb AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 20),
        |probedb AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qc.query_id, x.cell,
        |      row_number() OVER (PARTITION BY qc.query_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(qc.qq)),
        |          i -> qc.qq[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM qsb qc CROSS JOIN cccf x) WHERE rn <= 8),
        |lutb AS (
        |  SELECT qc.query_id, cbf.subspace, cbf.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.qq[cbf.subspace * 8 + i] * cbf.cw[i])) AS BIGINT) AS d
        |  FROM qsb qc CROSS JOIN cbf),
        |topb AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |    FROM encf e
        |    JOIN vcellf vc ON vc.vec_id = e.vec_id
        |    JOIN probedb p ON p.cell = vc.cell
        |    JOIN lutb l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.code = e.code
        |    GROUP BY l.query_id, e.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) <= 10),
        |samp2 AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb2 AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp2.code,
        |    list_transform(generate_series(1, 8), i -> samp2.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp2 CROSS JOIN generate_series(0, 7) AS s(j)),
        |cent2 AS (
        |  SELECT q AS ccode, CAST(row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS cell
        |  FROM codes
        |  QUALIFY row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 64),
        |ccc2 AS (
        |  SELECT cell, ccode,
        |    CAST(list_sum(list_transform(generate_series(1, len(ccode)),
        |      i -> ccode[i] * ccode[i])) AS BIGINT) AS cc
        |  FROM cent2),
        |enc2 AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb2.subspace, cb2.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb2.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb2.subspace * 8 + i] - cb2.cw[i])
        |             * (c.q[cb2.subspace * 8 + i] - cb2.cw[i]))) ASC,
        |        cb2.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb2) WHERE rn = 1),
        |vcell2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, x.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM codes c CROSS JOIN ccc2 x) WHERE rn = 1),
        |probed2 AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qc.query_id, x.cell,
        |      row_number() OVER (PARTITION BY qc.query_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(qc.qq)),
        |          i -> qc.qq[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM qs qc CROSS JOIN ccc2 x) WHERE rn <= 8),
        |lut2 AS (
        |  SELECT qc.query_id, cb2.subspace, cb2.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.qq[cb2.subspace * 8 + i] * cb2.cw[i])) AS BIGINT) AS d
        |  FROM qs qc CROSS JOIN cb2),
        |top2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |    FROM enc2 e
        |    JOIN vcell2 vc ON vc.vec_id = e.vec_id
        |    JOIN probed2 p ON p.cell = vc.cell
        |    JOIN lut2 l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.code = e.code
        |    GROUP BY l.query_id, e.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) <= 10),
        |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM u
        |       WHERE vec_id >= 10000000 AND vec_id < 10000020),
        |fex AS (
        |  SELECT query_id, id FROM (
        |    SELECT fq.query_id, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.query_id ORDER BY
        |        COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(generate_series(1, len(e.embedding)),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(fq.qv[i] AS DOUBLE))),
        |          (a, b) -> a + b), 0.0)
        |        DESC, e.vec_id ASC) AS rn
        |    FROM u e CROSS JOIN fq) WHERE rn <= 10),
        |fqb AS (SELECT vec_id AS query_id, embedding AS qv FROM u
        |        WHERE vec_id < 20),
        |fexb AS (
        |  SELECT query_id, id FROM (
        |    SELECT fqb.query_id, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fqb.query_id ORDER BY
        |        COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(generate_series(1, len(e.embedding)),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(fqb.qv[i] AS DOUBLE))),
        |          (a, b) -> a + b), 0.0)
        |        DESC, e.vec_id ASC) AS rn
        |    FROM u e CROSS JOIN fqb) WHERE rn <= 10)
        |SELECT 'frozen_base' AS variant, fexb.query_id,
        |  CAST(count(t.vec_id) AS BIGINT) AS n_hits, count(*) AS k
        |FROM fexb LEFT JOIN topb t
        |  ON t.query_id = fexb.query_id AND t.vec_id = fexb.id
        |GROUP BY fexb.query_id
        |UNION ALL
        |SELECT 'frozen' AS variant, fex.query_id,
        |  CAST(count(t.vec_id) AS BIGINT) AS n_hits, count(*) AS k
        |FROM fex LEFT JOIN topf t
        |  ON t.query_id = fex.query_id AND t.vec_id = fex.id
        |GROUP BY fex.query_id
        |UNION ALL
        |SELECT 'fresh' AS variant, fex.query_id,
        |  CAST(count(t.vec_id) AS BIGINT) AS n_hits, count(*) AS k
        |FROM fex LEFT JOIN top2 t
        |  ON t.query_id = fex.query_id AND t.vec_id = fex.id
        |GROUP BY fex.query_id""".stripMargin,

    // frozen leg re-derived closed-form (the x_ann_refresh_gain
    // derivation over base-trained quantizers); the adaptive leg's
    // probe top-10 comes from the committed corpus-keyed golden —
    // integer Lloyd is bit-replayable but not one SQL pass
    // (tools/gen_pq_adaptive_golden.py re-derives it independently)
    "x_refresh_adaptive" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    list_transform(embedding, x -> abs(x)) AS embedding
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM u)),
        |qs AS (SELECT vec_id AS query_id, q AS qq FROM codes
        |       WHERE vec_id >= 10000000 AND vec_id < 10000020),
        |sampf AS (
        |  SELECT q, CAST(row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS code
        |  FROM codes WHERE vec_id < 10000000
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cbf AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, sampf.code,
        |    list_transform(generate_series(1, 8), i -> sampf.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM sampf CROSS JOIN generate_series(0, 7) AS s(j)),
        |centf AS (
        |  SELECT q AS ccode, CAST(row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS cell
        |  FROM codes WHERE vec_id < 10000000
        |  QUALIFY row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 64),
        |cccf AS (
        |  SELECT cell, ccode,
        |    CAST(list_sum(list_transform(generate_series(1, len(ccode)),
        |      i -> ccode[i] * ccode[i])) AS BIGINT) AS cc
        |  FROM centf),
        |encf AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cbf.subspace, cbf.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cbf.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cbf.subspace * 8 + i] - cbf.cw[i])
        |             * (c.q[cbf.subspace * 8 + i] - cbf.cw[i]))) ASC,
        |        cbf.code ASC) AS rn
        |    FROM codes c CROSS JOIN cbf) WHERE rn = 1),
        |vcellf AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, x.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM codes c CROSS JOIN cccf x) WHERE rn = 1),
        |probedf AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qc.query_id, x.cell,
        |      row_number() OVER (PARTITION BY qc.query_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(qc.qq)),
        |          i -> qc.qq[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM qs qc CROSS JOIN cccf x) WHERE rn <= 8),
        |lutf AS (
        |  SELECT qc.query_id, cbf.subspace, cbf.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.qq[cbf.subspace * 8 + i] * cbf.cw[i])) AS BIGINT) AS d
        |  FROM qs qc CROSS JOIN cbf),
        |topf AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT l.query_id, e.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |    FROM encf e
        |    JOIN vcellf vc ON vc.vec_id = e.vec_id
        |    JOIN probedf p ON p.cell = vc.cell
        |    JOIN lutf l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.code = e.code
        |    GROUP BY l.query_id, e.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, vec_id ASC) <= 10),
        |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM u
        |       WHERE vec_id >= 10000000 AND vec_id < 10000020),
        |fex AS (
        |  SELECT query_id, id FROM (
        |    SELECT fq.query_id, e.vec_id AS id,
        |      row_number() OVER (PARTITION BY fq.query_id ORDER BY
        |        COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(generate_series(1, len(e.embedding)),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(fq.qv[i] AS DOUBLE))),
        |          (a, b) -> a + b), 0.0)
        |        DESC, e.vec_id ASC) AS rn
        |    FROM u e CROSS JOIN fq) WHERE rn <= 10),
        |ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |ga AS (
        |  SELECT query_id, vec_id
        |  FROM read_parquet('/root/repo/tools/golden/pq_adaptive_topk.parquet') g, ck
        |  WHERE g.corpus_key = ck.k)
        |SELECT 'frozen' AS variant, fex.query_id,
        |  CAST(count(t.vec_id) AS BIGINT) AS n_hits, count(*) AS k
        |FROM fex LEFT JOIN topf t
        |  ON t.query_id = fex.query_id AND t.vec_id = fex.id
        |GROUP BY fex.query_id
        |UNION ALL
        |SELECT 'retrained' AS variant, fex.query_id,
        |  CAST(count(g.vec_id) AS BIGINT) AS n_hits, count(*) AS k
        |FROM fex LEFT JOIN ga g
        |  ON g.query_id = fex.query_id AND g.vec_id = fex.id
        |GROUP BY fex.query_id""".stripMargin,

    // the PQ pipeline plus the integer-L2 coarse quantizer: centroids
    // = the 64 smallest-(hashRank salt 7, id) int8 code vectors; cells
    // and probes by cc − 2·dot argmin (the constant query/doc term
    // cannot change a winner or tie); ADC restricted to probed cells
    "x_ann_ivf_pq" -> ivfPqOracleSql,

    // the persisted-index probe is bit-identical to the in-session
    // composition by construction (same quantizers, integer scores,
    // lossless tinyint round trip — see the entry) — same oracle
    "x_pq_index_probe" -> ivfPqOracleSql,

    // grown == fresh-full PROVABLY (the seed owns both hash-sample
    // minima prefixes — see the entry), so the append workflow shares
    // the same re-derivation
    "x_pq_index_grow" -> ivfPqOracleSql,


    // kernel-replay golden keyed by the corpus checksum (the
    // x_ann_recall pattern); rank/int_dot stored in the golden itself
    "x_ann_ivf_int8" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // the persisted-index probe is bit-identical to the in-session
    // composition by construction (see the entry) — same golden
    "x_ann_index_probe" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // seed-then-append equals fresh-full by construction (negative-hash
    // seed owns the corpus hash-minima; see the entry) — same golden
    "x_ann_index_grow" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // compaction permutes file placement only (rows unchanged, total
    // tie order), and the fragmented index equals fresh-full by the
    // grow construction — same golden as the fresh probe
    "x_index_compact" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    "x_dedup_embedding" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT id_a, id_b, cosine
        |FROM read_parquet('/root/repo/tools/golden/embedding_pairs.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,

    // components over the corpus-keyed golden pair set (same recursive
    // min-label closure as x_dedup_clusters), survivors = every vec_id
    // that is not a non-root cluster member
    "x_semantic_dedup" ->
      """WITH RECURSIVE ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/embedding_pairs.parquet') g, ck
        |  WHERE g.corpus_key = ck.k
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comps AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM comps WHERE id <> comp)""".stripMargin,

    "x_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id, list_cosine_similarity(embedding, qv) AS c
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id,
        |  CAST(row_number() OVER (ORDER BY c DESC, vec_id ASC) AS INTEGER) AS rank
        |FROM scored WHERE NOT isnan(c) ORDER BY c DESC, vec_id ASC LIMIT 10""".stripMargin,

    // float→double widening, abs/max comparisons, one multiply+divide
    // per element, floor, and an integer sum — every step
    // bit-deterministic on both engines, no float accumulation anywhere
    "x_embed_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        |  FROM embeddings)
        |SELECT vec_id, max_abs,
        |  CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(list_sum(list_transform(embedding,
        |         x -> CAST(floor(CAST(x AS DOUBLE) * 127 / max_abs) AS BIGINT))) AS BIGINT) END AS sum_q,
        |  CAST(len(embedding) AS BIGINT) AS n_dims
        |FROM m""".stripMargin,

    "x_embed_centroids" ->
      """WITH m AS (
        |  SELECT label, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |e AS (
        |  SELECT label, unnest(list_transform(embedding, (x, i) -> struct_pack(
        |    pos := i - 1,
        |    q := CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor(CAST(x AS DOUBLE) * 127 / max_abs) AS BIGINT) END))) AS u
        |  FROM m)
        |SELECT CAST(label AS BIGINT) AS label, CAST(u.pos AS BIGINT) AS pos,
        |  CAST(sum(u.q) AS BIGINT) AS sum_q, count(*) AS n_vecs
        |FROM e GROUP BY 1, 2""".stripMargin,

    "x_json_extract" ->
      """SELECT event_type,
        |CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "x_props_keys_hist" ->
      """SELECT k AS key, count(*) AS n_events
        |FROM (SELECT unnest(json_keys(props)) AS k FROM events)
        |GROUP BY 1""".stripMargin,

    "x_acctbal_quartiles" ->
      """WITH v AS (
        |  SELECT c_mktsegment AS k, c_acctbal AS v FROM customer
        |  WHERE c_acctbal IS NOT NULL AND NOT isnan(c_acctbal)),
        |n AS (SELECT k, count(*) AS n FROM v GROUP BY 1),
        |s AS (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rn
        |      FROM v),
        |qs AS (SELECT unnest([0.25, 0.5, 0.75]) AS q)
        |SELECT s.k AS c_mktsegment, CAST(qs.q AS DOUBLE) AS q,
        |  CAST(greatest(1, CAST(ceil(CAST(qs.q AS DOUBLE) * n.n) AS BIGINT))
        |    AS BIGINT) AS rank,
        |  s.v AS value
        |FROM qs CROSS JOIN n
        |JOIN s ON s.k = n.k
        |  AND s.rn = greatest(1, CAST(ceil(CAST(qs.q AS DOUBLE) * n.n) AS BIGINT))""".stripMargin,

    "x_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) // 30 AS m,
        |    o_totalprice
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1)
        |SELECT CAST(f.cohort_month AS BIGINT) AS cohort_month,
        |  CAST(o.m - f.cohort_month AS BIGINT) AS age_months,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
        |    AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM o JOIN f ON o.o_custkey = f.o_custkey
        |GROUP BY 1, 2""".stripMargin,

    "x_repeat_rate" ->
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CASE WHEN per.n >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_buyers,
        |  CAST(sum(CASE WHEN per.n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repeat
        |FROM customer c LEFT JOIN per ON c.c_custkey = per.o_custkey
        |GROUP BY 1""".stripMargin,

    // the full corpus-prep composition, stage by stage: exact shingle
    // jaccard replaces the LSH candidate stage (set-equivalent on this
    // corpus — every true pair sits at j>=0.9, see x_dedup_minhash),
    // then lowest-id-per-text exact dedup, then the quality formula
    // verbatim (Java \p{Punct} == the ASCII ranges [!-/:-@[-`{-~])
    "x_corpus_prep" ->
      """WITH toks AS (
        |  SELECT doc_id, text, lang,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), losers AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
        |), surviving0 AS (
        |  SELECT * FROM toks WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |), surviving AS (
        |  SELECT * FROM surviving0
        |  WHERE doc_id IN (SELECT min(doc_id) FROM surviving0 GROUP BY text)
        |), scored AS (
        |  -- n_tok counts the UNFILTERED split (Spark's tokenCount keeps
        |  -- empty tokens from tab/newline-edged text); the filtered ts
        |  -- is only for shingles, which Java-trim their input
        |  SELECT *,
        |    CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) = 0 OR trim(text) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(ts, t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio
        |  FROM surviving
        |), quality AS (
        |  SELECT *,
        |    round(least(CAST(n_tok AS DOUBLE)/100.0, 1.0)*0.4
        |      + greatest(0.0, 1.0 - punct_ratio*5.0)*0.4
        |      + least(stop_ratio*4.0, 1.0)*0.2, 4) AS q
        |  FROM scored
        |)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM quality WHERE q >= 0.3 GROUP BY lang""".stripMargin,

    // salt 2 (sampleToTokenBudget's default); cumsum-before cutoff in
    // hashed order, mirrored exactly
    "x_token_budget" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
        |    (((((doc_id % 2147483647) + 2) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 AS bucket
        |  FROM documents
        |), ordered AS (
        |  SELECT doc_id, lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY bucket, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS tok_before
        |  FROM toks
        |)
        |SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok
        |FROM ordered WHERE tok_before < 3000""".stripMargin,

    // both sides use true integer division (Spark `div` = IntegralDivide,
    // DuckDB `//`) — exact at any magnitude
    "x_pack_bins" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM documents
        |), packed AS (
        |  SELECT lang, n_tok,
        |    CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 512 AS BIGINT) AS bin
        |  FROM toks
        |)
        |SELECT lang, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY lang, bin""".stripMargin,

    // the oracle aggregates the parquet directly — equality proves the
    // JSONL write+read round-trip is lossless
    // Survivor per key: highest (version, src); the catalog batch has
    // at most one update per (key, version, src), so the window
    // re-derivation needs no content tie-break.
    "x_upsert_merge" ->
      """WITH snap AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CAST(1 AS BIGINT) AS version, FALSE AS is_delete, 0 AS src
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DECIMAL(18,2)) AS price,
        |    CAST(2 AS BIGINT) AS version, (o_orderkey % 970 = 0) AS is_delete, 1 AS src
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (
        |  SELECT -o_orderkey AS o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CAST(2 AS BIGINT) AS version, FALSE AS is_delete, 1 AS src
        |  FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey <> 0),
        |merged AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY version DESC, src DESC) AS rn
        |  FROM (SELECT * FROM snap UNION ALL SELECT * FROM upd
        |        UNION ALL SELECT * FROM ins))
        |SELECT o_orderkey, CAST(price AS DOUBLE) AS price, version
        |FROM merged WHERE rn = 1 AND NOT is_delete""".stripMargin,

    "x_bloom_prune" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY o_orderstatus""".stripMargin,

    "x_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |mutated AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM base WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey, o_totalprice, o_orderstatus
        |  FROM base WHERE o_orderkey % 13 = 0),
        |j AS (
        |  SELECT coalesce(b.o_orderkey, m.o_orderkey) AS o_orderkey,
        |    CASE WHEN m.o_orderkey IS NULL THEN 'removed'
        |         WHEN b.o_orderkey IS NULL THEN 'added'
        |         WHEN b.o_totalprice IS DISTINCT FROM m.o_totalprice
        |           OR b.o_orderstatus IS DISTINCT FROM m.o_orderstatus
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS change_type
        |  FROM base b FULL OUTER JOIN mutated m ON b.o_orderkey = m.o_orderkey)
        |SELECT o_orderkey, change_type FROM j
        |WHERE change_type <> 'unchanged'""".stripMargin,

    // CAST ns->us BEFORE comparing, mirroring the engine's `ts div
    // 1000` truncation, so boundary pairs agree at shared precision
    "x_stream_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events)
        |SELECT c.user_id,
        |  c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_us(c.ts) AS click_ts_us,
        |  epoch_us(p.ts) AS purchase_ts_us
        |FROM ev c JOIN ev p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR""".stripMargin,

    "x_bucketed_join" ->
      """SELECT o_orderpriority,
        |CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
        |count(*) AS n_lines
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin,

    "x_compact_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,

    // the round-trip is lossless, so the oracle aggregates the source
    // directly (same decimal routing as q_rollup)
    "x_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |max(strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')) AS max_date
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // the merged-read semantics replayed relationally: absent columns
    // are nulls per batch, counted per column
    "x_schema_evolution" ->
      """WITH m AS (
        |  SELECT doc_id, n_chars, NULL AS lang FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(lang) AS BIGINT) AS n_with_lang,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM m""".stripMargin,

    "x_range_layout" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars BETWEEN 200 AND 400""".stripMargin,

    "x_zorder_layout" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars BETWEEN 200 AND 400 AND doc_id % 3 = 0""".stripMargin,

    // chr(9)=tab, chr(7)=BEL, chr(769)=combining acute: the oracle
    // builds the same decomposed mess and replays the normalize chain
    "x_normalize_text" ->
      """WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN chr(9) || ' badly' || chr(7) || ' spaced e' || chr(769)
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN '  trailing  ' ELSE '' END AS t
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(t),
        |      '[\x00-\x1f\x7f-\x9f]', ' ', 'g'), '\s+', ' ', 'g')) AS text_norm
        |  FROM aug)
        |SELECT doc_id, text_norm,
        |  CAST(length(text_norm) AS BIGINT) AS n_chars_norm
        |FROM norm""".stripMargin,

    // aggregates run over COALESCE(n_chars, 0) to mirror the engine's
    // batchPaddingStats (max/sum over coalesce(len, 0)): an all-null
    // batch — exactly what NULLS FIRST orders into batch 0 — must
    // report 0/0/0.0 on both sides, not SQL-null-skipping aggregates
    "x_length_batches" ->
      """WITH ranked AS (
        |  SELECT doc_id, COALESCE(n_chars, 0) AS len,
        |    row_number() OVER (ORDER BY n_chars NULLS FIRST, doc_id) - 1 AS rn
        |  FROM documents),
        |b AS (SELECT len, rn // 32 AS batch_id FROM ranked)
        |SELECT batch_id, count(*) AS n_seqs,
        |  CAST(max(len) AS BIGINT) AS max_len,
        |  CAST(sum(len) AS BIGINT) AS sum_len,
        |  CASE WHEN max(len) > 0
        |    THEN CAST(max(len) * count(*) - sum(len) AS DOUBLE)
        |      / (max(len) * count(*))
        |    ELSE 0.0 END AS padding_frac
        |FROM b GROUP BY batch_id""".stripMargin,

    "x_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "x_partitioned_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en'""".stripMargin,

    // the estimate itself is engine-specific; the oracle checks the
    // exact count and that the (deterministic) estimate verdict is TRUE
    "x_hll_increments" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
        |  FROM documents)
        |SELECT lang, count(DISTINCT token) AS n_distinct_exact,
        |  TRUE AS within_tolerance
        |FROM toks GROUP BY lang""".stripMargin,

    // sketch cells and lookups re-derived with the hashRank
    // double-modular formula (salts 21..24 — all intermediates < 2^63,
    // overflow-checked-safe); a probed cell with no sketch row is an
    // EMPTY cell → COALESCE 0, matching countMinLookup's left join
    "x_cms_topk" ->
      """WITH h AS (
        |  SELECT user_id, s.r,
        |    ((((user_id % 2147483647) + 21 + s.r) * 1103515245 % 2147483647)
        |      * 784588716) % 2147483647 % 512 AS cell
        |  FROM events CROSS JOIN generate_series(0, 3) AS s(r)),
        |sk AS (SELECT r, cell, count(*) AS c FROM h GROUP BY r, cell),
        |top AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, user_id ASC) <= 20),
        |est AS (
        |  SELECT t.user_id, t.n_events, min(COALESCE(sk.c, 0)) AS cms_est
        |  FROM top t CROSS JOIN generate_series(0, 3) AS s(r)
        |  LEFT JOIN sk ON sk.r = s.r AND sk.cell =
        |    ((((t.user_id % 2147483647) + 21 + s.r) * 1103515245 % 2147483647)
        |      * 784588716) % 2147483647 % 512
        |  GROUP BY t.user_id, t.n_events)
        |SELECT user_id, n_events,
        |  CAST(cms_est AS BIGINT) AS cms_est,
        |  CAST(cms_est - n_events AS BIGINT) AS overestimate
        |FROM est""".stripMargin,

    "x_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang""".stripMargin,

    // regex patterns are the Java/RE2-common subset (see Pii.scala), so
    // counts and replacements agree bit-for-bit
    "x_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
        |    AS text2
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text2, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM aug""".stripMargin,

    "x_pii_incidence" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
        |    AS text2
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |    len(regexp_extract_all(text2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS ni,
        |    len(regexp_extract_all(text2, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS np
        |  FROM aug)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c.ne + c.ni + c.np > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_with_pii,
        |  CAST(sum(c.ne) AS BIGINT) AS n_emails,
        |  CAST(sum(c.ni) AS BIGINT) AS n_ipv4,
        |  CAST(sum(c.np) AS BIGINT) AS n_phones
        |FROM c JOIN documents d ON c.doc_id = d.doc_id
        |GROUP BY 1""".stripMargin,

    // exact kept-set SQL — valid for the bloom entry because fpp=1e-9
    // keeps the expected FP count ~1e-3 at ~1e6 distinct probes (zero
    // observed), robust across SFs rather than seed-lucky
    "x_decontaminate_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ts)-4),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4])) AS s
        |  FROM toks WHERE len(ts) >= 5
        |), bench AS (
        |  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 20
        |), flagged AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 20)
        |  JOIN bench USING (shingle))
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |GROUP BY lang""".stripMargin,

    "x_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ts)-4),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4])) AS s
        |  FROM toks WHERE len(ts) >= 5
        |), bench AS (
        |  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 20
        |), corpus AS (
        |  SELECT doc_id, len(s) AS n_shingles, unnest(s) AS shingle FROM sh WHERE doc_id >= 20
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap,
        |  CAST(n_shingles AS BIGINT) AS n_shingles,
        |  CAST(count(*) AS DOUBLE) / n_shingles AS overlap_ratio
        |FROM corpus JOIN bench USING (shingle)
        |GROUP BY doc_id, n_shingles""".stripMargin,

    // same double-modular-multiplication bucket as
    // graft.operators.Sampling (salt 0): all intermediates < 2^63 so
    // DuckDB's overflow-checked BIGINT agrees bit-for-bit with Spark
    "x_hash_split" ->
      """WITH b AS (
        |  SELECT *,
        |    (((((doc_id % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN bucket < 800 THEN 'train'
        |       WHEN bucket < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,

    // cutoff = the exact ceil(0.8n)-th order statistic of epoch-µs
    // (the x_winsorize rank convention); 7-day embargo in µs
    "x_temporal_split" ->
      """WITH v AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT us, row_number() OVER (ORDER BY us) AS rn FROM v),
        |c AS (SELECT s.us AS cut FROM s, n
        |      WHERE s.rn = greatest(1, CAST(ceil(0.8 * n.n) AS BIGINT)))
        |SELECT event_type,
        |  CASE WHEN us <= (SELECT cut FROM c) THEN 'train'
        |       WHEN us <= (SELECT cut FROM c) + 604800000000 THEN 'embargo'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_events
        |FROM v GROUP BY 1, 2""".stripMargin,

    // same inline LCG at salt 3; integer // replays the engine's
    // contiguous-range fold formula
    "x_kfold" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    (((((doc_id % 2147483647) + 3) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 AS bucket
        |  FROM documents
        |)
        |SELECT (bucket * 5) // 1000 AS fold, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1""".stripMargin,

    // same LCG without the per-mill collapse (salt 4), row_number over
    // (rank, id) per source
    "x_per_key_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    (((((doc_id % 2147483647) + 4) * 1103515245) % 2147483647) * 784588716) % 2147483647 AS rk
        |  FROM documents),
        |rn AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS INT) AS rn
        |  FROM r)
        |SELECT doc_id, source, rn FROM rn WHERE rn <= 25""".stripMargin,

    // salt = saltBase(100) + epoch(2); global 0-based position in
    // (rank, id) order
    "x_epoch_shuffle" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    (((((doc_id % 2147483647) + 102) * 1103515245) % 2147483647) * 784588716) % 2147483647 AS rk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY rk, doc_id) - 1 AS BIGINT) AS pos
        |FROM r""".stripMargin,

    // pass 1 = per-source row_number over (LCG rank at salt 300+1,
    // id); pass 2 = global row_number over (rn, source) — (rn, source)
    // is unique so both orders are total
    "x_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    (((((doc_id % 2147483647) + 301) * 1103515245) % 2147483647) * 784588716) % 2147483647 AS rk
        |  FROM documents),
        |rn AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) - 1 AS BIGINT) AS rn
        |  FROM r)
        |SELECT doc_id, source, rn,
        |  CAST(row_number() OVER (ORDER BY rn, source) - 1 AS BIGINT) AS pos
        |FROM rn""".stripMargin,

    // p01/p99 boundaries via the exact rank formula, clip with
    // least/greatest, then the DECIMAL-routed sum (order-independent)
    "x_winsorize" ->
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |lo AS (SELECT s.value AS b FROM s, n
        |       WHERE s.rn = greatest(1, CAST(ceil(0.01 * n.n) AS BIGINT))),
        |hi AS (SELECT s.value AS b FROM s, n
        |       WHERE s.rn = greatest(1, CAST(ceil(0.99 * n.n) AS BIGINT)))
        |SELECT event_type, count(*) AS n_events,
        |  CAST(CAST(sum(CASE WHEN e.value IS NULL OR isnan(e.value) THEN NULL
        |    ELSE CAST(least(greatest(e.value, (SELECT b FROM lo)),
        |      (SELECT b FROM hi)) AS DECIMAL(18,2)) END)
        |    AS DECIMAL(18,2)) AS DOUBLE) AS sum_winsorized
        |FROM events e GROUP BY event_type""".stripMargin,

    // quartile boundaries use the engine's exact rank arithmetic
    // (CAST(k AS DOUBLE)/4 * n); order = (band, LCG rank at salt
    // 200+2, id), ties down on boundaries
    "x_curriculum" ->
      """WITH v AS (SELECT n_chars FROM documents WHERE n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn FROM v),
        |b AS (
        |  SELECT CAST(s.n_chars AS DOUBLE) AS bv
        |  FROM generate_series(1, 3) g(k)
        |  CROSS JOIN n
        |  JOIN s ON s.rn = greatest(1,
        |    CAST(ceil((CAST(g.k AS DOUBLE) / 4) * n.n) AS BIGINT))),
        |lab AS (
        |  SELECT doc_id,
        |    1 + (SELECT count(*) FROM b WHERE CAST(d.n_chars AS DOUBLE) > b.bv) AS band,
        |    (((((doc_id % 2147483647) + 202) * 1103515245) % 2147483647) * 784588716) % 2147483647 AS rk
        |  FROM documents d)
        |SELECT doc_id, CAST(band AS BIGINT) AS band,
        |  CAST(row_number() OVER (ORDER BY band, rk, doc_id) - 1 AS BIGINT) AS pos
        |FROM lab""".stripMargin,

    // x_dedup_clusters' recursive component closure + x_hash_split's
    // portable bucket hash, applied to the cluster id
    "x_cluster_safe_split" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comps AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id
        |), cl AS (
        |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
        |), b AS (
        |  SELECT *,
        |    (((((cluster_id % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 AS bucket
        |  FROM cl
        |)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN bucket < 800 THEN 'train'
        |       WHEN bucket < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,


    // salt 1 (stratifiedSample's default — decisions with distinct
    // salts are independent)
    "x_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (((((doc_id % 2147483647) + 1) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000
        |  < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200 ELSE 0 END""".stripMargin,

    "x_sample_bias_audit" ->
      """WITH sampled AS (
        |  SELECT lang, count(*) AS n_sampled FROM documents
        |  WHERE (((((doc_id % 2147483647) + 1) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000
        |    < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200 ELSE 0 END
        |  GROUP BY 1)
        |SELECT d.lang, count(*) AS n_corpus,
        |  CAST(coalesce(any_value(s.n_sampled), 0) AS BIGINT) AS n_sampled,
        |  CAST(CASE d.lang WHEN 'en' THEN 500 WHEN 'de' THEN 200 ELSE 0 END
        |    AS BIGINT) AS target_permille
        |FROM documents d LEFT JOIN sampled s ON d.lang = s.lang
        |GROUP BY d.lang""".stripMargin,

    "x_redundancy_by_source" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
        |FROM documents GROUP BY 1""".stripMargin,

    "x_vocab_overlap_sources" ->
      """WITH st AS (
        |  SELECT DISTINCT source, t AS token
        |  FROM (SELECT source, unnest(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')) AS t
        |    FROM documents WHERE text IS NOT NULL)),
        |s AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
        |i AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_both
        |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, CAST(sa.n AS BIGINT) AS n_a,
        |  CAST(sb.n AS BIGINT) AS n_b, CAST(i.n_both AS BIGINT) AS n_both
        |FROM i
        |JOIN s sa ON sa.source = i.source_a
        |JOIN s sb ON sb.source = i.source_b""".stripMargin,

    "x_fingerprint_groups" ->
      """WITH g AS (
        |  SELECT regexp_replace(trim(text), '\s+', ' ', 'g') AS fp,
        |    count(*) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT group_size, count(*) AS n_groups
        |FROM g GROUP BY 1""".stripMargin,

    "x_supplier_coverage" ->
      """WITH per AS (
        |  SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(n_parts AS BIGINT) AS n_parts,
        |  count(*) AS n_suppliers
        |FROM per GROUP BY 1""".stripMargin,

    "x_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    (((((doc_id % 2147483647) + 0) * 1103515245) % 2147483647)
        |      * 784588716) % 2147483647 AS r
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(r AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS priority
        |FROM w WHERE n_tokens > 0
        |ORDER BY priority ASC, doc_id ASC LIMIT 100""".stripMargin,

    "x_value_by_dow" ->
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS BIGINT) AS dow_idx,
        |  event_type, count(*) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS DOUBLE) AS sum_value
        |FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1, 2""".stripMargin,

    "x_discount_effect" ->
      """SELECT l_discount, count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1""".stripMargin,

    // w = floor(sqrt(tot)) is integer-exact below 2^45; the rate is
    // pure BIGINT floor division (// in DuckDB, div in Spark); the keep
    // hash is the salt-3 variant of the portable per-mill bucket
    "x_temperature_mix" ->
      """WITH stats AS (
        |  SELECT lang, sum(n_chars) AS tot,
        |    CAST(floor(sqrt(sum(n_chars))) AS BIGINT) AS w
        |  FROM documents GROUP BY lang
        |), rates AS (
        |  SELECT lang,
        |    CAST(CASE WHEN tot = 0 OR (SELECT sum(w) FROM stats) = 0 THEN 0
        |         ELSE least(1000, (1000 * w * 60000) // ((SELECT sum(w) FROM stats) * tot))
        |    END AS BIGINT) AS rate_mill
        |  FROM stats
        |)
        |SELECT d.doc_id, d.lang, r.rate_mill
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE (((((d.doc_id % 2147483647) + 3) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000
        |  < r.rate_mill""".stripMargin,

    // same derivation + the realized kept aggregates per source
    "x_mix_manifest" ->
      """WITH stats AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS src_tokens,
        |    CAST(floor(sqrt(sum(n_chars))) AS BIGINT) AS weight
        |  FROM documents GROUP BY lang
        |), rates AS (
        |  SELECT lang, n_docs, src_tokens, weight,
        |    CAST(CASE WHEN src_tokens = 0 OR (SELECT sum(weight) FROM stats) = 0 THEN 0
        |         ELSE least(1000, (1000 * weight * 60000) // ((SELECT sum(weight) FROM stats) * src_tokens))
        |    END AS BIGINT) AS rate_mill
        |  FROM stats
        |), kept AS (
        |  SELECT d.lang, count(*) AS kept_docs,
        |    CAST(sum(d.n_chars) AS BIGINT) AS kept_tokens
        |  FROM documents d JOIN rates r ON d.lang = r.lang
        |  WHERE (((((d.doc_id % 2147483647) + 3) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000
        |    < r.rate_mill
        |  GROUP BY d.lang
        |)
        |SELECT r.lang, r.n_docs, r.src_tokens, r.weight, r.rate_mill,
        |  coalesce(k.kept_docs, 0) AS kept_docs,
        |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
        |FROM rates r LEFT JOIN kept k ON r.lang = k.lang""".stripMargin,

    // stride-1 8-token windows (full windows only), duplicated when the
    // exact text occurs in >= 2 distinct docs; overlapping/adjacent
    // duplicated windows (start gap <= 8) merge into maximal spans via
    // gaps-and-islands
    "x_dup_passages" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, CAST(j AS INTEGER) AS j, array_to_string(ts[j+1 : j+8], ' ') AS w
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS j FROM toks WHERE len(ts) >= 8)
        |), dup AS (
        |  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT doc_id, j FROM wins WHERE w IN (SELECT w FROM dup)
        |), isl AS (
        |  SELECT doc_id, j, CASE WHEN lag(j) OVER (PARTITION BY doc_id ORDER BY j) IS NULL
        |      OR j - lag(j) OVER (PARTITION BY doc_id ORDER BY j) > 8 THEN 1 ELSE 0 END AS f
        |  FROM hits
        |), grp AS (
        |  SELECT doc_id, j, sum(f) OVER (PARTITION BY doc_id ORDER BY j) AS g FROM isl
        |)
        |SELECT doc_id, CAST(min(j) AS INTEGER) AS span_start,
        |  CAST(max(j) + 8 AS INTEGER) AS span_end, count(*) AS n_dup_windows
        |FROM grp GROUP BY doc_id, g""".stripMargin,

    // same span derivation, then: explode tokens with their index,
    // anti-join the span ranges (spans are disjoint islands, so the
    // left-join-null formulation is an exact anti-join), reassemble in
    // index order; docs with zero tokens or zero kept tokens surface
    // with clean_text = ''
    "x_cut_passages" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, CAST(j AS INTEGER) AS j, array_to_string(ts[j+1 : j+8], ' ') AS w
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS j FROM toks WHERE len(ts) >= 8)
        |), dup AS (
        |  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT doc_id, j FROM wins WHERE w IN (SELECT w FROM dup)
        |), isl AS (
        |  SELECT doc_id, j, CASE WHEN lag(j) OVER (PARTITION BY doc_id ORDER BY j) IS NULL
        |      OR j - lag(j) OVER (PARTITION BY doc_id ORDER BY j) > 8 THEN 1 ELSE 0 END AS f
        |  FROM hits
        |), grp AS (
        |  SELECT doc_id, j, sum(f) OVER (PARTITION BY doc_id ORDER BY j) AS g FROM isl
        |), spans AS (
        |  SELECT doc_id, min(j) AS s, max(j) + 8 AS e FROM grp GROUP BY doc_id, g
        |), tok AS (
        |  SELECT doc_id, ts[i+1] AS tok, CAST(i AS BIGINT) AS idx
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts))) AS i FROM toks)
        |), keep AS (
        |  SELECT k.doc_id, k.tok, k.idx
        |  FROM tok k LEFT JOIN spans s
        |    ON k.doc_id = s.doc_id AND k.idx >= s.s AND k.idx < s.e
        |  WHERE s.doc_id IS NULL
        |), agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS ct, count(*) AS nk
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT t.doc_id, coalesce(a.ct, '') AS clean_text,
        |  CAST(coalesce(a.nk, 0) AS INTEGER) AS n_kept_tokens,
        |  CAST(len(t.ts) - coalesce(a.nk, 0) AS INTEGER) AS n_removed_tokens
        |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // n_bpe_tokens comes from a committed golden parquet generated by an
    // INDEPENDENT Python replay of the merge kernel
    // (tools/gen_bpe_golden.py), keyed by md5(text) so the check is
    // scale-factor-agnostic: counts are a pure function of the text, and
    // an unseen text surfaces as a null-vs-value hash mismatch through
    // the LEFT JOIN. The other two columns reuse the DuckDB expressions
    // already hash-proven by x_text_tokens.
    "x_bpe_tokens" ->
      """SELECT d.doc_id, g.n_bpe_tokens,
        |len(regexp_extract_all(d.text, '\w+|[^\w\s]')) AS n_pretokens,
        |CASE WHEN trim(d.text) = '' THEN 0 ELSE len(string_split_regex(trim(d.text), '\s+')) END AS n_ws_tokens
        |FROM documents d
        |LEFT JOIN read_parquet('/root/repo/tools/golden/bpe_counts.parquet') g
        |  ON md5(d.text) = g.text_md5""".stripMargin,

    "x_bpe_fertility" ->
      """SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(g.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars
        |FROM documents d
        |LEFT JOIN read_parquet('/root/repo/tools/golden/bpe_counts.parquet') g
        |  ON md5(d.text) = g.text_md5
        |GROUP BY 1""".stripMargin,

    "x_minhash_est_hist" ->
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(n_agree AS BIGINT) AS n_agree, count(*) AS n_pairs
        |FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs.parquet') g, ck
        |WHERE g.corpus_key = ck.k
        |GROUP BY 1""".stripMargin,

    // the x_knn_graph_recall construction joined to labels and
    // aggregated per class
    "x_recall_by_label" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |g AS (
        |  SELECT query_id, id
        |  FROM read_parquet('/root/repo/tools/golden/knn_graph_ann.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |nz AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0.0),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS id,
        |         list_cosine_similarity(c.embedding, q.embedding) AS cos
        |  FROM nz c JOIN nz q ON c.vec_id <> q.vec_id),
        |exact AS (
        |  SELECT query_id, id FROM (
        |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, id ASC) AS rank
        |    FROM pairs) WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, count(*) AS n_hits
        |  FROM exact e JOIN g ON e.query_id = g.query_id AND e.id = g.id
        |  GROUP BY e.query_id),
        |per AS (
        |  SELECT ex.query_id, coalesce(h.n_hits, 0) AS n_hits, ex.k
        |  FROM (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id) ex
        |  LEFT JOIN hits h ON ex.query_id = h.query_id)
        |SELECT CAST(e.label AS BIGINT) AS label, count(*) AS n_queries,
        |  CAST(sum(per.n_hits) AS BIGINT) AS n_hits,
        |  CAST(sum(per.k) AS BIGINT) AS n_possible
        |FROM per JOIN embeddings e ON per.query_id = e.vec_id
        |GROUP BY 1""".stripMargin,

    "x_ann_degree_hist" ->
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |g AS (
        |  SELECT id FROM
        |    read_parquet('/root/repo/tools/golden/knn_graph_ann.parquet') x, ck
        |  WHERE x.corpus_key = ck.k),
        |deg AS (
        |  SELECT e.vec_id, count(g.id) AS in_degree
        |  FROM embeddings e LEFT JOIN g ON g.id = e.vec_id
        |  GROUP BY 1)
        |SELECT CAST(in_degree AS BIGINT) AS in_degree, count(*) AS n_vecs
        |FROM deg GROUP BY 1""".stripMargin,

    "x_join_explosion_est" ->
      """WITH p AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1),
        |m AS (SELECT l_partkey, n,
        |        row_number() OVER (ORDER BY n DESC, l_partkey ASC) AS rn
        |      FROM p)
        |SELECT (SELECT count(*) FROM p) AS n_keys,
        |  CAST((SELECT sum(n * n) FROM p) AS BIGINT) AS est_self_join_rows,
        |  CAST(m.n AS BIGINT) AS max_rows_per_key, m.l_partkey AS top_key
        |FROM m WHERE rn = 1""".stripMargin,

    "x_text_tokens" ->
      """SELECT doc_id,
        |CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish_tokens,
        |len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that')))
        |  AS n_stopwords
        |FROM documents""".stripMargin,

    "x_tokens_per_source" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |    AS n_tokens
        |FROM documents GROUP BY 1""".stripMargin,

    // chunk count = 1 + ceil(max(0, m-size)/stride) in INTEGER math
    // (the kernel's emission rule: last chunk is the one reaching the
    // final token); DuckDB list slices are 1-based inclusive
    "x_chunk_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, ts, len(ts) AS m FROM toks WHERE len(ts) > 0
        |), starts AS (
        |  SELECT doc_id, ts, m,
        |    unnest(range(0, 1 + (greatest(0, m - 16) + 11) // 12)) AS j
        |  FROM nz
        |)
        |SELECT doc_id, CAST(j AS INTEGER) AS chunk_idx,
        |  array_to_string(ts[j*12 + 1 : least(j*12 + 16, m)], ' ') AS chunk_text,
        |  CAST(least(j*12 + 16, m) - j*12 AS INTEGER) AS n_chunk_tokens
        |FROM starts""".stripMargin,

    "x_vocab_topk" ->
      """SELECT t AS token, count(*) AS freq
        |FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS t
        |      FROM documents)
        |GROUP BY t
        |ORDER BY freq DESC, token ASC
        |LIMIT 100""".stripMargin,

    "x_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM toks)
        |SELECT token, count(*) AS cnt
        |FROM toks CROSS JOIN n
        |GROUP BY token, total
        |HAVING count(*) >= ceil(0.002 * total)""".stripMargin,

    // closed-form dyadic EWMA over observed weekly ranks: l_i =
    // 2^-i x_0 + sum 2^-(i-j+1) x_j — every term exact, sum exact
    "x_ewma_trend" ->
      """WITH w AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, week, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY week) - 1 AS i
        |  FROM w)
        |SELECT a.event_type, CAST(a.week AS BIGINT) AS week, a.n,
        |  sum(b.n * CASE WHEN b.i = 0 THEN pow(0.5, a.i)
        |            ELSE pow(0.5, a.i - b.i + 1) END) AS ewma
        |FROM r a JOIN r b ON a.event_type = b.event_type AND b.i <= a.i
        |GROUP BY a.event_type, a.week, a.n""".stripMargin,

    // (type, epoch-week) counts + lag per type; nullable prev/delta
    "x_weekly_deltas" ->
      """WITH w AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(week AS BIGINT) AS week, n,
        |  lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
        |  n - lag(n) OVER (PARTITION BY event_type ORDER BY week) AS delta
        |FROM w""".stripMargin,

    // the funnel CTEs for the conversion flag + a rank-1 first event
    // per user; non-funnel users contribute converted = 0
    "x_first_touch" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |conv AS (
        |  SELECT s1.user_id,
        |    CAST(t3 IS NOT NULL AND epoch_us(t3) - epoch_us(t1) <= 86400000000
        |      AS INTEGER) AS converted
        |  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)),
        |f AS (
        |  SELECT user_id, event_type AS first_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |SELECT first_type, count(*) AS n_users,
        |  CAST(sum(coalesce(conv.converted, 0)) AS BIGINT) AS n_converted
        |FROM f LEFT JOIN conv USING (user_id) GROUP BY first_type""".stripMargin,

    // med and MAD via the exact rank formula; threshold arithmetic
    // mirrors the engine's left-assoc k * 1.4826 * mad
    "x_mad_outliers" ->
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |med AS (SELECT s.value AS m FROM s, n
        |        WHERE s.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))),
        |dv AS (SELECT abs(value - (SELECT m FROM med)) AS d FROM v),
        |ds AS (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM dv),
        |mad AS (SELECT ds.d AS m FROM ds, n
        |        WHERE ds.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT)))
        |SELECT event_id, value FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND abs(value - (SELECT m FROM med)) >
        |      3.0 * 1.4826 * (SELECT m FROM mad)""".stripMargin,

    // the sessionize CTE + a one-row summary; p50 session length via
    // the exact rank formula over per-session counts
    "x_session_stats" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            > INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sessions AS (
        |  SELECT user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, session_seq, count(*) AS n
        |  FROM sessions GROUP BY user_id, session_seq),
        |cnt AS (SELECT count(*) AS ns FROM sess),
        |r AS (SELECT n, row_number() OVER (ORDER BY n) AS rn FROM sess)
        |SELECT
        |  (SELECT count(*) FROM sess) AS n_sessions,
        |  (SELECT count(DISTINCT user_id) FROM sess) AS n_users,
        |  (SELECT CAST(sum(n) AS BIGINT) FROM sess) AS total_events,
        |  (SELECT CAST(max(n) AS BIGINT) FROM sess) AS max_len,
        |  (SELECT CAST(n AS DOUBLE) FROM r, cnt
        |   WHERE rn = greatest(1, CAST(ceil(0.5 * ns) AS BIGINT))) AS p50_len""".stripMargin,

    // GROUP BY CUBE mirrors the expand-based engine aggregate; the
    // quantity sum routes through DECIMAL on both sides
    "x_cube_counts" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // static CASE columns per lang — the same explicit value list the
    // engine's pivot uses
    "x_pivot_counts" ->
      """SELECT source,
        |  CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
        |  CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
        |  CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
        |  CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
        |  CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source""".stripMargin,

    // type-1 (discrete) quantile: value at 1-based rank ceil(q*n),
    // clamped to >= 1 — the narrowing loop's exact contract
    "x_exact_quantiles" ->
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |t AS (
        |  SELECT CAST(0.5 AS DOUBLE) AS q,
        |         greatest(1, CAST(ceil(0.5 * (SELECT n FROM n)) AS BIGINT)) AS rank
        |  UNION ALL
        |  SELECT CAST(0.9 AS DOUBLE),
        |         greatest(1, CAST(ceil(0.9 * (SELECT n FROM n)) AS BIGINT))
        |  UNION ALL
        |  SELECT CAST(0.99 AS DOUBLE),
        |         greatest(1, CAST(ceil(0.99 * (SELECT n FROM n)) AS BIGINT)))
        |SELECT t.q, t.rank, s.value FROM t JOIN s ON s.rn = t.rank""".stripMargin,

    // per-group type-1 median via windowed rank — the single-node
    // formulation of what the engine narrows iteratively
    "x_group_median" ->
      """WITH v AS (
        |  SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
        |s AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
        |      FROM v)
        |SELECT s.event_type, CAST(0.5 AS DOUBLE) AS q,
        |       greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT)) AS rank, s.value
        |FROM s JOIN n USING (event_type)
        |WHERE s.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))""".stripMargin,

    // boundaries are the engine's exact type-1 quantiles at q = k/10
    // (rank arithmetic replicated as CAST(k AS DOUBLE)/10 * n — the
    // identical IEEE product the Scala side computes); ties go down
    "x_value_deciles" ->
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |b AS (
        |  SELECT s.value AS bv
        |  FROM generate_series(1, 9) g(k)
        |  CROSS JOIN n
        |  JOIN s ON s.rn = greatest(1,
        |    CAST(ceil((CAST(g.k AS DOUBLE) / 10) * n.n) AS BIGINT)))
        |SELECT e.event_id, e.value,
        |  CASE WHEN e.value IS NULL OR isnan(e.value) THEN NULL
        |       ELSE 1 + (SELECT count(*) FROM b WHERE e.value > b.bv) END AS decile
        |FROM events e""".stripMargin,

    // jaccard double is bit-identical to the engine's (same
    // intersection/union division), so its decile floor matches
    "x_dedup_thresholds" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5)
        |SELECT least(10, CAST(floor(j * 10) AS BIGINT)) AS sim_decile,
        |       count(*) AS n_pairs
        |FROM pairs GROUP BY 1""".stripMargin,

    // exact dyadic sum: count_d * pow(0.5, dmax - d) — every term and
    // partial sum exactly representable, so plain sum() hash-matches
    "x_decayed_activity" ->
      """WITH d AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dday,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(dday) AS dmax FROM d)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |  sum(n * pow(0.5, (SELECT dmax FROM mx) - dday)) AS decayed_score
        |FROM d GROUP BY user_id""".stripMargin,

    // trigram index range iterates len(lower(text)) — the engine kernel
    // walks the LOWERED string, and Unicode lowercasing can change
    // length (e.g. U+0130 -> i + combining dot); len(text) would
    // silently diverge on such corpora (latent on this ASCII testdata)
    "x_lm_score" ->
      """WITH tri AS (
        |  SELECT doc_id, lang,
        |    unnest([substr(lt, i, 3) for i in range(1, len(lt) - 1)]) AS tg
        |  FROM (SELECT doc_id, lang, lower(text) AS lt FROM documents)
        |  WHERE len(lt) >= 3),
        |model AS (
        |  SELECT lang, tg, tg_cnt FROM (
        |    SELECT lang, tg, count(*) AS tg_cnt,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY count(*) DESC, tg ASC) AS rn
        |    FROM tri GROUP BY lang, tg) WHERE rn <= 500),
        |per_doc AS (
        |  SELECT t.doc_id,
        |    CAST(COALESCE(sum(m.tg_cnt), 0) AS DOUBLE) / count(*) AS lm_score
        |  FROM tri t LEFT JOIN model m USING (lang, tg)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, COALESCE(p.lm_score, 0.0) AS lm_score
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin,

    // the x_lm_score derivation + per-lang tercile cuts (quantile_cont
    // = Spark percentile, both type-7 linear interpolation)
    "x_quality_bands" ->
      """WITH tri AS (
        |  SELECT doc_id, lang,
        |    unnest([substr(lt, i, 3) for i in range(1, len(lt) - 1)]) AS tg
        |  FROM (SELECT doc_id, lang, lower(text) AS lt FROM documents)
        |  WHERE len(lt) >= 3),
        |model AS (
        |  SELECT lang, tg, tg_cnt FROM (
        |    SELECT lang, tg, count(*) AS tg_cnt,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY count(*) DESC, tg ASC) AS rn
        |    FROM tri GROUP BY lang, tg) WHERE rn <= 500),
        |per_doc AS (
        |  SELECT t.doc_id,
        |    CAST(COALESCE(sum(m.tg_cnt), 0) AS DOUBLE) / count(*) AS lm_score
        |  FROM tri t LEFT JOIN model m USING (lang, tg)
        |  GROUP BY t.doc_id),
        |scored AS (
        |  SELECT d.doc_id, d.lang, COALESCE(p.lm_score, 0.0) AS lm_score
        |  FROM documents d LEFT JOIN per_doc p USING (doc_id)),
        |ranked AS (
        |  SELECT lang, lm_score,
        |    row_number() OVER (PARTITION BY lang ORDER BY lm_score) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored),
        |cuts AS (
        |  -- order-statistic terciles, rank ceil(q*n), mirrors
        |  -- Quantiles.groupedExactQuantile's rank convention (the
        |  -- value at a rank is tie-order-independent)
        |  SELECT lang,
        |    max(CASE WHEN rnk = greatest(1, CAST(ceil((2.0/3) * n) AS BIGINT))
        |             THEN lm_score END) AS q_hi,
        |    max(CASE WHEN rnk = greatest(1, CAST(ceil((1.0/3) * n) AS BIGINT))
        |             THEN lm_score END) AS q_lo
        |  FROM ranked GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.lm_score,
        |  CASE WHEN s.lm_score >= c.q_hi THEN 'head'
        |       WHEN s.lm_score >= c.q_lo THEN 'middle'
        |       ELSE 'tail' END AS quality_band
        |FROM scored s JOIN cuts c USING (lang)""".stripMargin,

    "x_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) *
        |      (CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, token, tf, df, score FROM ranked WHERE rank <= 5""".stripMargin,

    "x_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,

    // class counts as replace-and-measure length deltas ('g' for
    // global — DuckDB's regexp_replace is first-match by default)
    "x_char_classes" ->
      """SELECT lang, CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT) AS n_digits,
        |  CAST(sum(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT) AS n_ascii_letters,
        |  CAST(sum(length(text) - length(regexp_replace(text, ' ', '', 'g'))) AS BIGINT) AS n_spaces
        |FROM documents GROUP BY lang""".stripMargin,

    // same token-count formula as x_text_stats; sentence/syllable
    // counters are regex-run counts; fk arithmetic mirrors the
    // engine's evaluation order term for term (bare IEEE doubles)
    "x_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  0.39 * (CAST(n_words AS DOUBLE) / CAST(greatest(1, n_sentences) AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(greatest(1, n_words) AS DOUBLE))
        |    - 15.59 AS fk_grade
        |FROM c""".stripMargin,

    "x_data_card" ->
      """SELECT source,
        |  count(*) AS n_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT md5(text)) AS n_distinct_texts,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin,

    "x_lang_marker_hits" ->
      """SELECT doc_id,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('the','and','of','to','is','in','that','it','with','for'))) AS en_hits,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS de_hits,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('le','la','les','et','est','une','pour','dans','que','des'))) AS fr_hits,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('el','la','los','las','es','una','para','que','por','con'))) AS es_hits
        |FROM documents""".stripMargin,

    // argmax over (hits, lang): ties go to the lexicographically
    // LARGEST language (the engine's greatest-of-structs order), so
    // the CASE checks fr > es > en > de
    "x_lang_confusion" ->
      """WITH h AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('the','and','of','to','is','in','that','it','with','for'))) AS h_en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS h_de,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('le','la','les','et','est','une','pour','dans','que','des'))) AS h_fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('el','la','los','las','es','una','para','que','por','con'))) AS h_es
        |  FROM documents),
        |p AS (
        |  SELECT lang AS label_lang,
        |    CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |         WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
        |         WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
        |         WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
        |         ELSE 'de' END AS pred_lang
        |  FROM h)
        |SELECT label_lang, pred_lang, count(*) AS n_docs
        |FROM p GROUP BY 1, 2""".stripMargin,

    "x_token_len_profile" ->
      """SELECT lang, CAST(length(t) AS BIGINT) AS tok_len,
        |  count(*) AS n_tokens
        |FROM (SELECT lang, unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS t
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    // two deterministic top-100 vocabularies (freq desc, token asc),
    // intersection count
    "x_vocab_drift" ->
      """WITH docs AS (
        |  SELECT text, CAST(substring(source, 4) AS INTEGER) % 2 AS c
        |  FROM documents),
        |ta AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM docs WHERE c = 0),
        |tb AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM docs WHERE c = 1),
        |va AS (SELECT token FROM (
        |  SELECT token, count(*) AS f FROM ta GROUP BY 1
        |  ORDER BY f DESC, token ASC LIMIT 100)),
        |vb AS (SELECT token FROM (
        |  SELECT token, count(*) AS f FROM tb GROUP BY 1
        |  ORDER BY f DESC, token ASC LIMIT 100))
        |SELECT CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST(200 - count(*) AS BIGINT) AS n_union
        |FROM va JOIN vb USING (token)""".stripMargin,

    // session starts = gap null/>30min; sessions per user → histogram
    "x_sessions_per_user_hist" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) -
        |      lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events),
        |c AS (
        |  SELECT user_id,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |      AS n_sessions
        |  FROM g GROUP BY 1)
        |SELECT CAST(n_sessions AS BIGINT) AS n_sessions, count(*) AS n_users
        |FROM c GROUP BY 1""".stripMargin,

    "x_null_rates" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_value,
        |  CAST(sum(CASE WHEN value IS NOT NULL AND isnan(value)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_value,
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_props
        |FROM events GROUP BY 1""".stripMargin,

    "x_churn" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week
        |  FROM events)
        |SELECT CAST(a.week AS BIGINT) AS week, count(*) AS n_active,
        |  CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_churned
        |FROM uw a LEFT JOIN uw b
        |  ON a.user_id = b.user_id AND b.week = a.week + 1
        |GROUP BY 1""".stripMargin,

    // k = greatest(1, ceil(0.01*U)); ties to smaller user_id
    "x_power_users" ->
      """WITH per AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |u AS (SELECT count(*) AS u, CAST(sum(n) AS BIGINT) AS total FROM per),
        |top AS (
        |  SELECT n FROM per, u
        |  ORDER BY n DESC, user_id ASC
        |  LIMIT (SELECT greatest(1, CAST(ceil(CAST(0.01 AS DOUBLE) * u) AS BIGINT)) FROM u))
        |SELECT u.u AS n_users,
        |  greatest(1, CAST(ceil(CAST(0.01 AS DOUBLE) * u.u) AS BIGINT)) AS k,
        |  (SELECT CAST(sum(n) AS BIGINT) FROM top) AS top_events,
        |  u.total AS total_events
        |FROM u""".stripMargin,

    "x_rolling_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |c AS (
        |  SELECT ud.user_id, d2.day AS rday
        |  FROM ud JOIN days d2 ON d2.day BETWEEN ud.day AND ud.day + 6)
        |SELECT CAST(rday AS BIGINT) AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |FROM c GROUP BY 1""".stripMargin,

    "x_hash_balance" ->
      """SELECT
        |  (((((user_id % 2147483647) + 0) * 1103515245) % 2147483647)
        |    * 784588716) % 2147483647 % 32 AS partition_id,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    "x_user_overlap_types" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        |i AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, CAST(sa.n AS BIGINT) AS n_a,
        |  CAST(sb.n AS BIGINT) AS n_b, CAST(i.n_both AS BIGINT) AS n_both
        |FROM i
        |JOIN s sa ON sa.event_type = i.type_a
        |JOIN s sb ON sb.event_type = i.type_b""".stripMargin,

    "x_first_week_behavior" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS f FROM ev GROUP BY 1)
        |SELECT ev.event_type,
        |  CAST(sum(CASE WHEN ev.day < f.f + 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_week0,
        |  CAST(sum(CASE WHEN ev.day >= f.f + 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_later
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1""".stripMargin,

    "x_step_latency" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (
        |  SELECT user_id,
        |    lag(event_type) OVER w AS f, event_type AS tt,
        |    t - lag(t) OVER w AS gap
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |v AS (SELECT f || '>' || tt AS transition, CAST(gap AS DOUBLE) AS v
        |      FROM g WHERE f IS NOT NULL),
        |n AS (SELECT transition, count(*) AS n FROM v GROUP BY 1),
        |s AS (SELECT transition, v,
        |        row_number() OVER (PARTITION BY transition ORDER BY v) AS rn
        |      FROM v)
        |SELECT s.transition, CAST(0.5 AS DOUBLE) AS q,
        |  CAST(greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT)) AS BIGINT) AS rank,
        |  s.v AS value
        |FROM n JOIN s ON s.transition = n.transition
        |  AND s.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))""".stripMargin,

    "x_new_vs_returning" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS f FROM ev GROUP BY 1)
        |SELECT CAST(ev.day AS BIGINT) AS day,
        |  CAST(sum(CASE WHEN ev.day = f.f THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new_user_events,
        |  CAST(sum(CASE WHEN ev.day <> f.f THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returning_events,
        |  CAST(count(DISTINCT CASE WHEN ev.day = f.f THEN ev.user_id END)
        |    AS BIGINT) AS n_new_users,
        |  CAST(count(DISTINCT CASE WHEN ev.day <> f.f THEN ev.user_id END)
        |    AS BIGINT) AS n_returning_users
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1""".stripMargin,

    "x_id_integrity" ->
      """SELECT 'documents' AS table_name, count(*) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
        |  CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(max(doc_id) AS BIGINT) AS max_id,
        |  CAST(max(doc_id) - min(doc_id) + 1 - count(DISTINCT doc_id)
        |    AS BIGINT) AS n_gaps
        |FROM documents
        |UNION ALL
        |SELECT 'events', count(*), CAST(count(DISTINCT event_id) AS BIGINT),
        |  CAST(min(event_id) AS BIGINT), CAST(max(event_id) AS BIGINT),
        |  CAST(max(event_id) - min(event_id) + 1 - count(DISTINCT event_id)
        |    AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'orders', count(*), CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT),
        |  CAST(max(o_orderkey) - min(o_orderkey) + 1
        |    - count(DISTINCT o_orderkey) AS BIGINT)
        |FROM orders""".stripMargin,

    "x_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (
        |  SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |mau AS (
        |  SELECT d2.day AS rday, count(DISTINCT ud.user_id) AS mau28
        |  FROM ud JOIN days d2 ON d2.day BETWEEN ud.day AND ud.day + 27
        |  GROUP BY 1)
        |SELECT CAST(dau.day AS BIGINT) AS day, CAST(dau.dau AS BIGINT) AS dau,
        |  CAST(mau.mau28 AS BIGINT) AS mau28
        |FROM dau JOIN mau ON dau.day = mau.rday""".stripMargin,

    "x_retention_curve" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS f FROM ud GROUP BY 1),
        |n AS (SELECT count(*) AS n_users FROM f),
        |ks AS (SELECT unnest([1, 7, 28]) AS k),
        |p AS (SELECT f.user_id, ks.k, f.f + ks.k AS day FROM f CROSS JOIN ks),
        |r AS (
        |  SELECT p.k, count(*) AS n_retained FROM p
        |  WHERE EXISTS (SELECT 1 FROM ud
        |                WHERE ud.user_id = p.user_id AND ud.day = p.day)
        |  GROUP BY 1)
        |SELECT CAST(r.k AS BIGINT) AS k, CAST(n.n_users AS BIGINT) AS n_users,
        |  CAST(r.n_retained AS BIGINT) AS n_retained
        |FROM r, n""".stripMargin,

    "x_near_zero_variance" ->
      """WITH v AS (
        |  SELECT event_type, value, count(*) AS n FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2),
        |r AS (SELECT event_type, value, n,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY n DESC, value ASC) AS rn,
        |        sum(n) OVER (PARTITION BY event_type) AS n_rows,
        |        count(*) OVER (PARTITION BY event_type) AS n_distinct
        |      FROM v)
        |SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  value AS top_value, CAST(n AS BIGINT) AS top_n
        |FROM r WHERE rn = 1""".stripMargin,

    "x_hour_heatmap" ->
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS BIGINT) AS dow_idx,
        |  CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS BIGINT)
        |    AS hour_utc,
        |  count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    // same exact-KS construction as x_ks_drift, over document lengths
    // split by even/odd source index
    "x_chars_drift" ->
      """WITH e AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS value,
        |    CAST(substring(source, 4) AS INTEGER) % 2 AS s
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (
        |  SELECT lang, value,
        |    sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM e GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang,
        |    sum(c0) OVER (PARTITION BY lang ORDER BY value) AS f0,
        |    sum(c1) OVER (PARTITION BY lang ORDER BY value) AS f1
        |  FROM c),
        |tot AS (SELECT lang, sum(c0) AS n_a, sum(c1) AS n_b FROM c GROUP BY 1)
        |SELECT t.lang, CAST(t.n_a AS BIGINT) AS n_a,
        |  CAST(t.n_b AS BIGINT) AS n_b,
        |  CAST(max(abs(f0 * t.n_b - f1 * t.n_a)) AS BIGINT) AS ks_num
        |FROM cum JOIN tot t USING (lang)
        |GROUP BY t.lang, t.n_a, t.n_b""".stripMargin,

    "x_salted_count" ->
      """SELECT l_returnflag, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "x_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
        |octet_length(encode(text)) AS n_bytes,
        |octet_length(encode(text)) AS payload_bytes
        |FROM documents""".stripMargin,

    // Re-derives the stub decode byte-for-byte: UTF-8 bytes via the hex
    // string (DuckDB has no blob indexing), JVM SIGNED bytes for the
    // checksum (>=128 -> -256), and the Long wraparound as mod 2^64 in
    // HUGEINT mapped back to signed. Seed 1125899906842597 prepended
    // because this DuckDB's list_reduce takes no initial accumulator.
    "x_multimodal_features" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS kind,
        |         hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |bytes AS (
        |  SELECT *,
        |    list_transform(regexp_extract_all(hx, '..'), x -> ('0x'||x)::INT) AS ub,
        |    list_transform(regexp_extract_all(hx, '..'),
        |      x -> (CASE WHEN ('0x'||x)::INT >= 128 THEN ('0x'||x)::INT - 256
        |            ELSE ('0x'||x)::INT END)::HUGEINT) AS sb
        |  FROM b),
        |ck AS (
        |  SELECT doc_id, kind, n,
        |    CASE WHEN n = 0 THEN 0 ELSE 64 + (ub[1] & 127) END AS width,
        |    CASE WHEN n = 0 THEN 0 ELSE 64 + (ub[(n // 2) + 1] & 127) END AS height,
        |    list_reduce(list_prepend(1125899906842597::HUGEINT, sb),
        |      (acc, x) -> ((acc * 31 + x) % 18446744073709551616
        |                   + 18446744073709551616) % 18446744073709551616) AS raw
        |  FROM bytes)
        |SELECT doc_id AS media_id, kind, n AS n_bytes, width, height,
        |  CASE WHEN kind = 'image' THEN 0 ELSE n * 10 END AS duration_ms,
        |  CASE WHEN raw >= 9223372036854775808
        |       THEN (raw - 18446744073709551616)::BIGINT
        |       ELSE raw::BIGINT END AS checksum
        |FROM ck""".stripMargin,

    "x_multimodal_offsets" ->
      """SELECT doc_id AS media_id,
        |  unnest(generate_series(0, octet_length(encode(text)) - 1, 256)) AS byte_offset
        |FROM documents
        |WHERE octet_length(encode(text)) > 0""".stripMargin,

    // feature formulations copied from the x_corpus_prep oracle (proven
    // IEEE-identical); logit term order mirrors LinearModel.defaultModel
    // left-to-right. mean_token_len's numerator: sum of token lengths ==
    // count of non-whitespace characters.
    "x_quality_classifier" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' !!! ??? ;;;' ELSE text END AS text2
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text2) = '' THEN 0.0
        |         ELSE CAST(len(string_split_regex(trim(text2), '\s+')) AS DOUBLE) END AS n_tok,
        |    CASE WHEN length(text2) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text2, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text2) END AS punct_ratio,
        |    CASE WHEN trim(text2) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text2),'\s+'), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text2), '\s+')) END AS stop_ratio,
        |    CASE WHEN trim(text2) = '' THEN 0.0
        |         ELSE CAST(length(regexp_replace(text2, '\s', '', 'g')) AS DOUBLE)
        |              / len(string_split_regex(trim(text2), '\s+')) END AS mtl
        |  FROM aug),
        |scored AS (
        |  SELECT doc_id,
        |    -2.0 + 0.02 * n_tok + -10.0 * punct_ratio + 5.0 * stop_ratio + 0.1 * mtl AS logit
        |  FROM f)
        |SELECT doc_id, logit,
        |  CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END AS keep_flag
        |FROM scored""".stripMargin,

    "x_prefix_groups" ->
      """WITH g AS (
        |  SELECT substring(text, 1, 50) AS p, count(*) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT CAST(group_size AS BIGINT) AS group_size,
        |  count(*) AS n_groups
        |FROM g GROUP BY 1""".stripMargin,

    "x_hapax" ->
      """WITH tc AS (
        |  SELECT lang, t, count(*) AS c
        |  FROM (SELECT lang, unnest(list_filter(
        |          string_split_regex(trim(text), '\s+'), x -> x <> '')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_distinct_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |FROM tc GROUP BY 1""".stripMargin,

    "x_type_diversity" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |c AS (SELECT user_id, count(*) AS n_types FROM ut GROUP BY 1)
        |SELECT CAST(n_types AS BIGINT) AS n_types, count(*) AS n_users
        |FROM c GROUP BY 1""".stripMargin,

    "x_dedup_lines" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT)
        |    AS n_kept
        |FROM documents""".stripMargin,

    "x_embed_dims" ->
      """SELECT CAST(len(embedding) AS BIGINT) AS dim, count(*) AS n_vecs
        |FROM embeddings GROUP BY 1""".stripMargin,

    // classifier keep on plain text (x_quality_agreement's formulas) ×
    // near-dup pair membership (the standard pair CTE)
    "x_dup_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), mem AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT id_a AS id FROM pairs
        |    UNION ALL SELECT id_b AS id FROM pairs)
        |), f AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END AS n_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text),'\s+'), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS mtl
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN -2.0 + 0.02 * n_tok + -10.0 * punct_ratio
        |         + 5.0 * stop_ratio + 0.1 * mtl >= 0.0 THEN 1 ELSE 0 END AS keep_flag
        |  FROM f)
        |SELECT CASE WHEN mem.id IS NOT NULL THEN 1 ELSE 0 END AS in_dup_cluster,
        |  c.keep_flag, count(*) AS n_docs
        |FROM c LEFT JOIN mem ON c.doc_id = mem.id
        |GROUP BY 1, 2""".stripMargin,

    "x_label_balance" ->
      """SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN len(list_filter(embedding, x -> x <> 0)) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs
        |FROM embeddings GROUP BY 1""".stripMargin,

    // same two-round LCG (salt 7) on the draw index, mod n
    "x_bootstrap_hist" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |i AS (SELECT unnest(generate_series(0, (SELECT n FROM n) - 1)) AS i),
        |dr AS (
        |  SELECT ((((i % 2147483647) + 7) * 1103515245) % 2147483647
        |          * 784588716) % 2147483647 % (SELECT n FROM n) AS drawn
        |  FROM i),
        |tm AS (SELECT drawn, count(*) AS t FROM dr GROUP BY 1)
        |SELECT CAST(coalesce(tm.t, 0) AS BIGINT) AS times_drawn,
        |  count(*) AS n_docs
        |FROM documents d LEFT JOIN tm ON d.doc_id = tm.drawn
        |GROUP BY 1""".stripMargin,

    "x_small_cells" ->
      """WITH g AS (
        |  SELECT lang, source, count(*) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT count(*) AS n_cells,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_cells,
        |  CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
        |    AS n_docs_in_small
        |FROM g""".stripMargin,

    "x_top_movers" ->
      """WITH w AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, CAST(week AS BIGINT) AS week,
        |    n - lag(n) OVER (PARTITION BY event_type ORDER BY week) AS delta
        |  FROM w)
        |SELECT event_type, week, CAST(delta AS BIGINT) AS delta
        |FROM d WHERE delta IS NOT NULL
        |ORDER BY abs(delta) DESC, event_type ASC, week ASC
        |LIMIT 10""".stripMargin,

    "x_type_affinity" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_users
        |FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,

    // same dirty-copy injection; canonical key = lower(trim(collapse(
    // scrub(nfc(text))))) — the x_normalize_text pipeline + lower
    "x_canon_dedup" ->
      """WITH aug AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT upper(text) || chr(9) || chr(7) || ' '
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT count(*) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT lower(trim(regexp_replace(regexp_replace(
        |    nfc_normalize(text), '[\x00-\x1f\x7f-\x9f]', ' ', 'g'),
        |    '\s+', ' ', 'g')))) AS BIGINT) AS n_canon_distinct
        |FROM aug""".stripMargin,

    "x_time_rollup" ->
      """WITH b AS (
        |  SELECT datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events)
        |SELECT 'day' AS grain, CAST(day AS BIGINT) AS bucket,
        |  count(*) AS n_events FROM b GROUP BY 2
        |UNION ALL
        |SELECT 'week', CAST(day // 7 AS BIGINT), count(*) FROM b GROUP BY 2
        |UNION ALL
        |SELECT 'month', CAST(day // 30 AS BIGINT), count(*) FROM b GROUP BY 2""".stripMargin,

    // Gopher keep (x_gopher_rules formulas on PLAIN text) × classifier
    // keep (x_quality_classifier formulas on PLAIN text), composed
    // text IS NOT NULL mirrors the shared gopher frame's input filter
    // (the Spark side inner-joins against it): a future generator
    // emitting a null-text doc diverges loudly here, not silently
    "x_quality_agreement" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents WHERE text IS NOT NULL),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id,
        |    nt::INT AS n_tokens,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mean_tok_len,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS top2_frac,
        |    (nl - ndl)::DOUBLE / nl AS dup_line_frac,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s)))::INT AS stop_hits
        |  FROM base),
        |g AS (
        |  SELECT doc_id,
        |    (CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
        |    * (CASE WHEN mean_tok_len BETWEEN 4.0 AND 10.0 THEN 1 ELSE 0 END)
        |    * (CASE WHEN top2_frac <= 0.08 THEN 1 ELSE 0 END)
        |    * (CASE WHEN dup_line_frac <= 0.2 THEN 1 ELSE 0 END)
        |    * (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END) AS keep_gopher
        |  FROM sig),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END AS n_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text),'\s+'), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS mtl
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN -2.0 + 0.02 * n_tok + -10.0 * punct_ratio
        |         + 5.0 * stop_ratio + 0.1 * mtl >= 0.0 THEN 1 ELSE 0 END AS keep_clf
        |  FROM f)
        |SELECT g.keep_gopher, c.keep_clf, count(*) AS n_docs
        |FROM g JOIN c ON g.doc_id = c.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // rank over ALL tokens; CASE rank<=k restricts to the same top-500
    // the engine ranks explicitly (k never exceeds 500)
    "x_coverage_curve" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS freq FROM toks GROUP BY token),
        |r AS (SELECT token, freq,
        |        row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
        |      FROM c),
        |t AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM c),
        |k AS (SELECT unnest([10, 50, 100, 200, 500]) AS k)
        |SELECT CAST(k.k AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN r.rank <= k.k THEN r.freq ELSE 0 END) AS BIGINT)
        |    AS n_covered,
        |  t.n_total
        |FROM k CROSS JOIN r CROSS JOIN t
        |GROUP BY k.k, t.n_total""".stripMargin,

    // sessions(T) = distinct users + gaps > T; same ts-ordered lag as
    // the engine (ties gap 0 regardless of tie order)
    "x_session_gap_sweep" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) -
        |      lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events),
        |a AS (
        |  SELECT count(DISTINCT user_id) AS nu,
        |    sum(CASE WHEN gap > 900000000 THEN 1 ELSE 0 END) AS g15,
        |    sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS g30,
        |    sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END) AS g60
        |  FROM g)
        |SELECT CAST(k.gap_minutes AS BIGINT) AS gap_minutes,
        |  CAST(CASE k.gap_minutes WHEN 15 THEN nu + g15
        |       WHEN 30 THEN nu + g30 ELSE nu + g60 END AS BIGINT) AS n_sessions
        |FROM a, (SELECT unnest([15, 30, 60]) AS gap_minutes) k""".stripMargin,

    // same boilerplate injection as the Spark side; gram keys are
    // space-joined (tokens cannot contain whitespace, so injective);
    // all ratios are int-derived IEEE divisions — bit-identical
    "x_repetition_stats" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text
        |      || chr(10) || 'subscribe now' || chr(10) || 'subscribe now'
        |      || chr(10) || 'subscribe now' ELSE text END AS text2
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text2) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text2), '\s+') END AS t,
        |    string_split(text2, chr(10)) AS lines
        |  FROM aug),
        |base AS (SELECT doc_id, t, len(t) AS nt,
        |                len(lines) AS nl, len(list_distinct(lines)) AS ndl FROM toks),
        |grams AS (
        |  SELECT doc_id, nl, ndl,
        |    CASE WHEN nt >= 2 THEN list_transform(generate_series(1, nt-1),
        |      i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2,
        |    CASE WHEN nt >= 3 THEN list_transform(generate_series(1, nt-2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE []::VARCHAR[] END AS g3
        |  FROM base)
        |SELECT doc_id,
        |  (nl - ndl)::DOUBLE / nl AS dup_line_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |    (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |  END AS top2_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0 ELSE
        |    (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g3) AS u(x) GROUP BY x)) / len(g3)
        |  END AS top3_frac
        |FROM grams""".stripMargin,

    // (grams − distinct)/grams per n — same n-gram construction as
    // x_repetition_stats' top-gram oracle, distinct-count instead of
    // max-count
    "x_dup_ngram_frac" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |      i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2,
        |    CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t)-2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE []::VARCHAR[] END AS g3,
        |    CASE WHEN len(t) >= 4 THEN list_transform(generate_series(1, len(t)-3),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) ELSE []::VARCHAR[] END AS g4
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2) END AS dup2_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0
        |       ELSE (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END AS dup3_frac,
        |  CASE WHEN len(g4) = 0 THEN 0.0
        |       ELSE (len(g4) - len(list_distinct(g4)))::DOUBLE / len(g4) END AS dup4_frac
        |FROM grams""".stripMargin,

    // distinct words + frequencies, then char-pair explode over the
    // vocabulary weighted by freq; deterministic (count, pair) cut
    "x_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                  t -> t <> '')) AS w
        |    FROM documents) GROUP BY w),
        |pairs AS (
        |  SELECT p AS pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        |    SELECT freq, unnest(CASE WHEN length(w) >= 2
        |      THEN list_transform(generate_series(1, length(w)-1),
        |           i -> substr(lower(w), i, 2))
        |      ELSE []::VARCHAR[] END) AS p
        |    FROM words) GROUP BY p)
        |SELECT pair, pair_count FROM pairs
        |ORDER BY pair_count DESC, pair ASC LIMIT 40""".stripMargin,

    // document-membership lift: integer products under 2^53 and one
    // IEEE division, parenthesized as in the engine
    "x_token_lift" ->
      """WITH raw AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |dt AS (SELECT DISTINCT doc_id, token FROM raw),
        |tc AS (SELECT token, count(*) AS n_tok FROM dt GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |p AS (
        |  SELECT l.token AS token_a, r.token AS token_b, count(*) AS n_ab
        |  FROM dt l JOIN dt r ON l.doc_id = r.doc_id AND l.token < r.token
        |  GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT token_a, token_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(ta.n_tok AS BIGINT) AS n_a, CAST(tb.n_tok AS BIGINT) AS n_b,
        |  (CAST(n_ab AS DOUBLE) * CAST(n.n_docs AS DOUBLE)) /
        |  (CAST(ta.n_tok AS DOUBLE) * CAST(tb.n_tok AS DOUBLE)) AS lift
        |FROM p JOIN tc ta ON p.token_a = ta.token
        |       JOIN tc tb ON p.token_b = tb.token CROSS JOIN n
        |ORDER BY lift DESC, token_a ASC, token_b ASC LIMIT 40""".stripMargin,

    // BM25 with rational idf; the per-doc sum replays the engine's
    // token-sorted left fold (list ORDER BY token + list_reduce with a
    // prepended 0.0 accumulator — this DuckDB's list_reduce takes no
    // initial value). All DOUBLE arithmetic mirrors the Spark
    // parenthesization so every intermediate is bit-identical.
    "x_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |lens AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents) AS n_docs,
        |         (SELECT sum(dl) FROM lens) AS total_tokens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE token IN ('spark', 'join', 'window') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    ((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5) /
        |     (CAST(dfreq.df AS DOUBLE) + 0.5)) *
        |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |      (0.25 + 0.75 * (CAST(lens.dl AS DOUBLE) /
        |       (CAST(stats.total_tokens AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))))
        |    AS term_score
        |  FROM tf JOIN lens USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats),
        |agg AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS hits,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(term_score ORDER BY token)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, hits, score FROM agg
        |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,

    // DSIR rational importance weights: one joint vocab pass (target
    // count as a conditional sum), 1-row totals, smoothed ratio per
    // token, per-doc token-sorted fold; docs with no tokens keep
    // weight 0.0 through the left join.
    "x_importance_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_target, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token, count(*) AS c_raw,
        |         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
        |  FROM toks GROUP BY token),
        |totals AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt, count(*) AS v FROM vocab),
        |ratios AS (
        |  SELECT token,
        |    (CAST(c_tgt + 1 AS DOUBLE) / CAST(t_tgt + v AS DOUBLE)) /
        |    (CAST(c_raw + 1 AS DOUBLE) / CAST(t_raw + v AS DOUBLE)) AS r
        |  FROM vocab CROSS JOIN totals),
        |tf AS (SELECT doc_id, token, count(*) AS n FROM toks GROUP BY doc_id, token),
        |w AS (
        |  SELECT tf.doc_id, CAST(sum(tf.n) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(CAST(tf.n AS DOUBLE) * ratios.r ORDER BY tf.token)),
        |      (a, x) -> a + x) AS weight
        |  FROM tf JOIN ratios USING (token) GROUP BY tf.doc_id)
        |SELECT d.doc_id, coalesce(w.n_tokens, 0) AS n_tokens,
        |       coalesce(w.weight, 0.0) AS weight
        |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id""".stripMargin,

    // same distinct-shingle construction as the dedup family; novelty
    // is df==1 gram share, one int/int DOUBLE division
    "x_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ts)-2),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS gram
        |  FROM toks WHERE len(ts) >= 3),
        |dfreq AS (SELECT gram, count(*) AS df FROM sh GROUP BY gram),
        |st AS (
        |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM sh JOIN dfreq USING (gram) GROUP BY sh.doc_id)
        |SELECT d.doc_id,
        |  coalesce(st.n_grams, 0) AS n_grams,
        |  coalesce(st.n_novel, 0) AS n_novel,
        |  coalesce(CAST(st.n_novel AS DOUBLE) / CAST(st.n_grams AS DOUBLE), 0.0) AS novelty
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin,

    // BM25 candidate CTE mirrors x_bm25_topk (doc 0 excluded — it is
    // the query vector's own document); rerank replays the cosine rank
    // emission of x_cosine_topk
    "x_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id <> 0),
        |lens AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
        |  FROM documents WHERE doc_id <> 0),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents WHERE doc_id <> 0) AS n_docs,
        |         (SELECT sum(dl) FROM lens) AS total_tokens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE token IN ('spark', 'join', 'window') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    ((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5) /
        |     (CAST(dfreq.df AS DOUBLE) + 0.5)) *
        |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |      (0.25 + 0.75 * (CAST(lens.dl AS DOUBLE) /
        |       (CAST(stats.total_tokens AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))))
        |    AS term_score
        |  FROM tf JOIN lens USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats),
        |lexical AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(term_score ORDER BY token)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id
        |  ORDER BY score DESC, doc_id ASC LIMIT 50),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |rer AS (
        |  SELECT lexical.doc_id, list_cosine_similarity(e.embedding, q.qv) AS c
        |  FROM lexical JOIN embeddings e ON e.vec_id = lexical.doc_id CROSS JOIN q)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY c DESC, doc_id ASC) AS INTEGER) AS rank
        |FROM rer WHERE NOT isnan(c) ORDER BY c DESC, doc_id ASC LIMIT 10""".stripMargin,

    // same scored CTE as x_hybrid_search; bm10 ranks the lexical agg
    // directly, hy10 ranks the reranked lex-50 — both by the shared
    // deterministic (score desc, id) order
    "x_rerank_shift" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id <> 0),
        |lens AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
        |  FROM documents WHERE doc_id <> 0),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents WHERE doc_id <> 0) AS n_docs,
        |         (SELECT sum(dl) FROM lens) AS total_tokens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE token IN ('spark', 'join', 'window') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    ((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5) /
        |     (CAST(dfreq.df AS DOUBLE) + 0.5)) *
        |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |      (0.25 + 0.75 * (CAST(lens.dl AS DOUBLE) /
        |       (CAST(stats.total_tokens AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))))
        |    AS term_score
        |  FROM tf JOIN lens USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats),
        |lexall AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(term_score ORDER BY token)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id),
        |lex50 AS (SELECT doc_id FROM lexall
        |          ORDER BY score DESC, doc_id ASC LIMIT 50),
        |bm10 AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_bm
        |  FROM lexall ORDER BY score DESC, doc_id ASC LIMIT 10),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |rer AS (
        |  SELECT lex50.doc_id, list_cosine_similarity(e.embedding, q.qv) AS c
        |  FROM lex50 JOIN embeddings e ON e.vec_id = lex50.doc_id CROSS JOIN q),
        |hy10 AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY c DESC, doc_id ASC) AS r_hy
        |  FROM rer WHERE NOT isnan(c) ORDER BY c DESC, doc_id ASC LIMIT 10)
        |SELECT CAST(count(*) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(sum(abs(r_bm - r_hy)), 0) AS BIGINT) AS sum_rank_shift
        |FROM bm10 JOIN hy10 USING (doc_id)""".stripMargin,

    // Same augmentation + token/line/bigram machinery as
    // x_repetition_stats; adds the distinct-stopword count and the
    // Gopher rule flags (thresholds mirror the catalog entry).
    "x_gopher_rules" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text
        |      || chr(10) || 'subscribe now' || chr(10) || 'subscribe now'
        |      || chr(10) || 'subscribe now' ELSE text END AS text2
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text2) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text2), '\s+') END AS t,
        |    string_split(text2, chr(10)) AS lines
        |  FROM aug),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id,
        |    nt::INT AS n_tokens,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mean_tok_len,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS top2_frac,
        |    (nl - ndl)::DOUBLE / nl AS dup_line_frac,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s)))::INT AS stop_hits
        |  FROM base),
        |rules AS (
        |  SELECT doc_id, n_tokens, mean_tok_len, top2_frac, dup_line_frac, stop_hits,
        |    CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_token_count,
        |    CASE WHEN mean_tok_len BETWEEN 4.0 AND 10.0 THEN 1 ELSE 0 END AS r_word_len,
        |    CASE WHEN top2_frac <= 0.08 THEN 1 ELSE 0 END AS r_repetition,
        |    CASE WHEN dup_line_frac <= 0.2 THEN 1 ELSE 0 END AS r_boilerplate,
        |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stopwords
        |  FROM sig)
        |SELECT *, r_token_count * r_word_len * r_repetition
        |          * r_boilerplate * r_stopwords AS keep
        |FROM rules""".stripMargin,

    // same Gopher sig/rules construction, no boilerplate augment,
    // aggregated per language
    "x_quality_by_lang" ->
      """WITH nn AS (SELECT doc_id, lang, text FROM documents
        |  WHERE text IS NOT NULL),
        |toks AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM nn),
        |base AS (
        |  SELECT doc_id, lang, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id, lang, nt,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mtl,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS t2f,
        |    (nl - ndl)::DOUBLE / nl AS dlf,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s))) AS sh
        |  FROM base),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN nt BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS rt,
        |    CASE WHEN mtl BETWEEN 4.0 AND 10.0 THEN 1 ELSE 0 END AS rw,
        |    CASE WHEN t2f <= 0.08 THEN 1 ELSE 0 END AS rr,
        |    CASE WHEN dlf <= 0.2 THEN 1 ELSE 0 END AS rb,
        |    CASE WHEN sh >= 2 THEN 1 ELSE 0 END AS rs
        |  FROM sig)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(rt * rw * rr * rb * rs) AS BIGINT) AS n_keep,
        |  CAST(sum(1 - rt) AS BIGINT) AS n_fail_tokens,
        |  CAST(sum(1 - rw) AS BIGINT) AS n_fail_wordlen,
        |  CAST(sum(1 - rr) AS BIGINT) AS n_fail_rep,
        |  CAST(sum(1 - rb) AS BIGINT) AS n_fail_boiler,
        |  CAST(sum(1 - rs) AS BIGINT) AS n_fail_stop
        |FROM r GROUP BY 1""".stripMargin,

    // same rule kernel again, collapsed to the staged attrition counts
    "x_filter_funnel" ->
      """WITH nn AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |toks AS (
        |  SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM nn),
        |base AS (
        |  SELECT doc_id, text, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id, text, nt,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mtl,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS t2f,
        |    (nl - ndl)::DOUBLE / nl AS dlf,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s))) AS sh
        |  FROM base),
        |k AS (
        |  SELECT doc_id, text, nt,
        |    CASE WHEN nt BETWEEN 50 AND 100000 AND mtl BETWEEN 4.0 AND 10.0
        |      AND t2f <= 0.08 AND dlf <= 0.2 AND sh >= 2 THEN 1 ELSE 0 END AS keep
        |  FROM sig),
        |u AS (SELECT count(*) AS n_unique FROM
        |  (SELECT min(doc_id) FROM k WHERE keep = 1 GROUP BY text)),
        |c AS (SELECT count(*) AS n_nonnull,
        |    sum(CASE WHEN nt >= 50 THEN 1 ELSE 0 END) AS n_min_tokens,
        |    sum(keep) AS n_quality FROM k),
        |a AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT CAST(a.n_docs AS BIGINT) AS n_docs,
        |  CAST(c.n_nonnull AS BIGINT) AS n_nonnull,
        |  CAST(c.n_min_tokens AS BIGINT) AS n_min_tokens,
        |  CAST(c.n_quality AS BIGINT) AS n_quality,
        |  CAST(u.n_unique AS BIGINT) AS n_unique
        |FROM a, c, u""".stripMargin,

    // deciles via the x_value_deciles boundary replay on n_chars,
    // keep via the same Gopher sig/rules construction
    "x_length_vs_quality" ->
      """WITH nn AS (SELECT doc_id, n_chars, text FROM documents
        |  WHERE text IS NOT NULL),
        |v AS (SELECT n_chars FROM nn WHERE n_chars IS NOT NULL),
        |nv AS (SELECT count(*) AS n FROM v),
        |sv AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn
        |       FROM v),
        |b AS (
        |  SELECT sv.n_chars AS bv
        |  FROM generate_series(1, 9) g(k)
        |  CROSS JOIN nv
        |  JOIN sv ON sv.rn = greatest(1,
        |    CAST(ceil((CAST(g.k AS DOUBLE) / 10) * nv.n) AS BIGINT))),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM nn),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id, nt,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mtl,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS t2f,
        |    (nl - ndl)::DOUBLE / nl AS dlf,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s))) AS sh
        |  FROM base),
        |k AS (
        |  SELECT doc_id,
        |    CASE WHEN nt BETWEEN 50 AND 100000 AND mtl BETWEEN 4.0 AND 10.0
        |      AND t2f <= 0.08 AND dlf <= 0.2 AND sh >= 2 THEN 1 ELSE 0 END AS keep
        |  FROM sig),
        |dec AS (
        |  SELECT nn.doc_id,
        |    CASE WHEN nn.n_chars IS NULL THEN NULL
        |         ELSE 1 + (SELECT count(*) FROM b WHERE nn.n_chars > b.bv)
        |    END AS len_decile
        |  FROM nn)
        |SELECT CAST(dec.len_decile AS BIGINT) AS len_decile,
        |  count(*) AS n_docs, CAST(sum(k.keep) AS BIGINT) AS n_keep
        |FROM dec JOIN k ON dec.doc_id = k.doc_id
        |GROUP BY 1""".stripMargin,

    "x_cumulative_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS day FROM ud GROUP BY 1),
        |nb AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM nb""".stripMargin,

    "x_mobility_matrix" ->
      """WITH uw AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tw AS (SELECT week, count(*) AS nw FROM uw GROUP BY 1),
        |b AS (
        |  SELECT uw.user_id, uw.week,
        |    ((row_number() OVER (PARTITION BY uw.week
        |        ORDER BY uw.n DESC, uw.user_id ASC) - 1) * 5) // tw.nw + 1
        |      AS bucket
        |  FROM uw JOIN tw ON uw.week = tw.week)
        |SELECT CAST(p.bucket AS BIGINT) AS from_bucket,
        |  CAST(c.bucket AS BIGINT) AS to_bucket,
        |  count(*) AS n_transitions
        |FROM b p JOIN b c ON p.user_id = c.user_id AND c.week = p.week + 1
        |GROUP BY 1, 2""".stripMargin
  )
}
