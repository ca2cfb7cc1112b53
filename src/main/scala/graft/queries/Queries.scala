package graft.queries

import graft.config.{FieldMapping, ValidationRule}
import graft.operators.{Clusters, Dedup, NgramLm, Similarity, TextAnalysis}
import graft.rules.RuleCompiler
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The query catalog behind SparkEntry: one entry per operator from
  * SURVEY.md §2 plus the training-data-pipeline extensions. Each entry
  * is one [[CatalogEntry]] in a family object (`RelationalEntries`,
  * `DedupEntries`, …), which declares its plan and its DuckDB oracle
  * together; this object holds what the families share (table readers,
  * the declared [[Harness]] artifacts, oracle fragments) and derives
  * [[queries]] and [[oracleSql]] from [[catalog]].
  *
  * Oracle-compare discipline: all output column names are lower_snake
  * and aliased identically on both sides; aggregate sums go through
  * DECIMAL(18,2)/(18,4) so Spark's and DuckDB's summation order cannot
  * produce differing low-order float bits; per-row double arithmetic is
  * bit-deterministic and safe.
  */
object Queries {

  private[queries] def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Shared 4/5-corpus / 1/5-batch MinHash index build + probe used by
    * x_dedup_incremental and x_incremental_ingest — one place for the
    * split, the scratch index path (dataset-dir-scoped: one path per SF
    * in a session), and the LSH parameters.
    * Returns (batch frame, near-dup pairs at jaccard >= 0.5).
    */
  private[queries] def indexAndProbe(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    val idxPath = Harness.scratch("minhash_idx", d).toString
    Dedup.writeMinHashIndex(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text",
      idxPath, mode = "overwrite")
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    (batch, Dedup.minHashProbeIndex(s, batch, "doc_id", "text", idxPath, threshold = 0.5))
  }

  /** Cumulative wall-clock spent BUILDING the shared per-dir artifacts
    * this session (outermost builds only; see [[Harness.Artifact]]).
    * Bench reports it as `artifact_sec`.
    */
  def artifactBuildSeconds: Double = Harness.artifactBuildSeconds

  /** Per-artifact breakdown of [[artifactBuildSeconds]] (label →
    * cumulative seconds, outermost builds only). Bench emits it as
    * `artifact_breakdown` in the medians side file.
    */
  def artifactBuildBreakdown: Map[String, Double] = Harness.artifactBuildBreakdown

  /** 30-minute-gap sessionization shared by `x_sessionize` and
    * `x_session_stats` — gap compared at MICROSECOND precision (ts_utc
    * is the reader's µs contract column regardless of the footer's
    * physical type, so `unix_micros` is exact, no rounding).
    */
  private[queries] def sessionFrame(s: SparkSession, d: String): DataFrame = {
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

  /** Shared multi-pass fuzzy PAIR frame (substitution fixture) reused
    * by `x_fuzzy_multipass` and `x_golden_records` — the same
    * one-expensive-pass-many-consumers shape as the ngram pair graph.
    */
  private[queries] val fuzzyMultipassPairs = Harness.frame("fuzzy_pairs") { (s, d) =>
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
    prefixPass.union(suffixPass)
      .groupBy(col("id_a"), col("id_b"), col("dist"))
      .agg(
        max(when(col("__pass") === 1, 1L).otherwise(0L)).as("in_prefix"),
        max(when(col("__pass") === 2, 1L).otherwise(0L)).as("in_suffix"))
  }

  /** Shared corpus-wide `(doc_id → shingle set)` projection — the ONE
    * expensive text pass both exact n-gram measures derive from: the
    * Jaccard pair graph ([[ngramPairGraph]]) and `x_dedup_containment`
    * each consume this persisted frame instead of re-shingling the
    * corpus (the r11 verdict's #4: the containment entry's corpus
    * projection duplicated the pair graph's work).
    */
  private[queries] val docShingles = Harness.frame("doc_shingles") { (s, d) =>
    Dedup.shingleProjection(t(s, d, "documents"), "doc_id", "text", 3)
  }

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
  private[queries] val annotatedLineitem = Harness.frame("annotated_lineitem") { (s, d) =>
    // cache ONLY what the three consumers (P8 counts, P9 fanout, S6
    // report) read: the row key + the computed errors array. Caching
    // all 11 lineitem columns spilled the 60M-row sfx100 build out of
    // the storage pool (19.3× for 10× data in the r15 probe); the
    // pruned frame is ~6× narrower and scales linearly. Rule inputs
    // (quantity/date/regex fields) are consumed by compileRow before
    // the projection, so results are unchanged.
    t(s, d, "lineitem")
      .withColumn("errors", RuleCompiler.compileRow(lineitemRules))
      .select(col("l_orderkey"), col("l_linenumber"), col("errors"))
  }

  /** Shared exact-ngram near-dup PAIR GRAPH `(pairs, components)`,
    * computed once per dataset dir per session and reused by the whole
    * family — `x_dedup_ngram` (the raw pairs), `x_dedup_clusters`
    * (connected components over them), and `x_cluster_safe_split`
    * (split labels hashed on the component root). This is the
    * production shape at 100 TB: the candidate-generation +
    * verification job is the expensive corpus-wide pass, and every
    * downstream consumer (clustering, leakage-safe splitting, survivor
    * selection) derives from ONE persisted pair-graph artifact rather
    * than re-shingling the corpus per query — the same sharing the r10
    * verdict asked for (next-round #4). Memory bound: the pairs frame
    * is ∝ the near-dup pair count (structurally ≪ corpus; 25 rows at
    * sf0.01, 256 at sf0.1); components are pair-members only.
    */
  private[queries] val ngramPairGraph = Harness.persisted("ngram_pair_graph",
      (g: (DataFrame, DataFrame)) => g._1) { (s, d) =>
    val pairs = Dedup.ngramJaccardFromShingles(
      docShingles(s, d), threshold = 0.5, maxPostings = 1000,
      metric = "graft_ngram_postings_doc_id_text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // connectedComponents is eager (per-round convergence checks) and
    // reads the pairs cached — its first action also materializes the
    // persisted pairs, so the pair expansion runs exactly once per dir
    // per session (and the shingle pass exactly once via the
    // docShingles artifact)
    (pairs, Clusters.connectedComponents(pairs))
  }

  /** Shared duplicate-passage SPAN frame for the exact-substring
    * family: `x_dup_passages` reports it, `x_cut_passages` rewrites the
    * corpus from it — detection (the corpus-wide stride-1 window
    * shuffle) runs once per dir per session, the production shape when
    * a pipeline both audits and cuts. Bounded: spans ∝ duplicated
    * passages (structurally ≪ corpus; 47 rows at sf0.01).
    */
  private[queries] val passageSpans = Harness.frame("passage_spans") { (s, d) =>
    Dedup.duplicatePassageSpans(t(s, d, "documents"), "doc_id", "text", n = 8)
  }

  /** Query cap for every recall audit's exact brute-force leg
    * ([[graft.operators.Similarity.exactTopKSample]]): at or above the
    * corpus size at every test SF (2000 embeddings at sf0.1), so
    * current results are bit-identical to the uncapped form — and at
    * scale the SAME code path bounds each audit at 4096 hash-picked
    * queries × |corpus| scored pairs, the declared sampled-slice
    * design the audits previously only claimed in prose.
    */
  private[queries] val exactAuditMaxQueries = 4096

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
  private[queries] val exactAuditMaxCorpus = 4096

  /** Memoized embeddings row count per dataset dir — the
    * audit-cap gate (`x_ann_pareto`) consults it every rep, and
    * `DataFrame.count()` launches a real job (file listing + footer
    * reads) whose cost grows with file count at scale. A plain Long,
    * so unlike the frame memos it safely outlives any SparkSession.
    */
  private val embCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[queries] def embeddingsCount(s: SparkSession, d: String): Long =
    embCountCache.computeIfAbsent(d, _ => t(s, d, "embeddings").count())

  /** Deterministic hash-ordered corpus slice (ascending
    * (xxhash64(id), id) — the repo's sampling idiom: reproducible
    * across runs and engines, unbiased w.r.t. any corpus ordering),
    * capped at [[exactAuditMaxCorpus]] rows. One bounded TakeOrdered
    * over the corpus; identity at every test SF.
    */
  private[queries] def auditCorpusSlice(corpus: DataFrame, idCol: String): DataFrame =
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
  private[queries] val exactKnnGraph = Harness.frame("exact_knn_graph") { (s, d) =>
    val emb = t(s, d, "embeddings")
    graft.operators.Similarity.exactTopKSample(
      emb, "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 5, maxQueries = exactAuditMaxQueries,
      metric = "cosine", excludeSelf = true,
      // query-DENSE ground-truth pass (corpus as queries): widen the
      // corpus side so the n² kernel never rides one scan task (r19)
      widenCorpus = true)
  }

  /** Shared per-corpus trigram LM model (the CCNet-style quality
    * prior) — the corpus-wide n-gram count aggregation in
    * [[NgramLm.trainModel]] runs once per dir per session, consumed by
    * both `x_lm_score` and `x_quality_bands` (the r12 verdict's
    * recomputed-artifact item). ≤ |langs|·500 rows, persisted; both
    * consumers also hand `NgramLm.score` the SAME canonicalized model
    * plan, so its driver-side model collect happens once too.
    */
  private[queries] val lmModel = Harness.frame("lm_model") { (s, d) =>
    NgramLm.trainModel(t(s, d, "documents"), "lang", "text", n = 3, vocab = 500)
  }

  /** Shared Gopher-rule signal frame over the PLAIN corpus text (the
    * standard thresholds every audit entry uses) — the five-signal
    * kernel pass runs once per dir per session, consumed by
    * `x_quality_by_lang`, `x_filter_funnel`, `x_length_vs_quality` and
    * `x_quality_agreement` (the r12 verdict's recomputed-artifact
    * item). `x_gopher_rules` itself stays standalone: its input is the
    * boilerplate-INJECTED text2 column, a different frame by design.
    * One row per non-null-text doc (corpus-bounded, ~7 int columns).
    */
  private[queries] val gopherSignals = Harness.frame("gopher_signals") { (s, d) =>
    TextAnalysis.gopherRules(
      t(s, d, "documents").filter(col("text").isNotNull),
      "doc_id", "text",
      minTokens = 50, maxTokens = 100000,
      minMeanTokLen = 4.0, maxMeanTokLen = 10.0,
      maxTop2Frac = 0.08, maxDupLineFrac = 0.2, minStopHits = 2)
  }

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
  private[queries] def eventsTsIsNative(spark: SparkSession, sfDir: String): Boolean =
    tsNativeCache.computeIfAbsent(sfDir, _ =>
      try spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType match {
        case TimestampType | TimestampNTZType => true
        case _ => false
      } catch { case scala.util.control.NonFatal(_) => false })

  private[queries] def eventsSchema(spark: SparkSession, sfDir: String): StructType =
    eventsSchemaWith(
      if (eventsTsIsNative(spark, sfDir)) TimestampType else LongType)

  /** Normalizes either physical read to the µs `ts_utc` contract. */
  private[queries] def withTsUtc(df: DataFrame, native: Boolean): DataFrame =
    if (native) df.withColumn("ts_utc", col("ts"))
    else df.withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))

  private[queries] def events(spark: SparkSession, sfDir: String): DataFrame = {
    val native = eventsTsIsNative(spark, sfDir)
    withTsUtc(
      spark.read.schema(eventsSchemaWith(if (native) TimestampType else LongType))
        .parquet(s"$sfDir/events.parquet"),
      native)
  }

  private[queries] def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private[queries] def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** BM25 lexical top-50 → cosine rerank → top-10 with ranks: the
    * hybrid-retrieval composition shared by `x_hybrid_search` (the
    * result) and `x_rerank_shift` (the what-did-reranking-change
    * audit). Rank assignment is the ≤10-row sorted-array idiom — no
    * unpartitioned window.
    */
  private[queries] def hybridTop10(s: SparkSession, d: String): DataFrame = {
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
  private[queries] val pqIndex = Harness.persisted("pq_index",
      (i: graft.operators.Pq.PqIndex) => i.encoded) { (s, d) =>
    graft.operators.Pq.buildIndex(t(s, d, "embeddings"),
      "vec_id", "embedding", m = 8, ncode = 256, nlist = 64)
  }

  /** Shared flat PQ-ADC top-10 frame: `x_ann_pq` reports it,
    * `x_pq_recall` audits the SAME result against the exact float
    * top-10. Bounded: |queries|·k rows persisted; rides [[pqIndex]].
    */
  private[queries] val pqTop10 = Harness.frame("pq_top10") { (s, d) =>
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.Pq.adcTopK(pqIndex(s, d), queries, "qid", "qv", k = 10)
  }

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

  /** The file stream source watches a DIRECTORY (the landing-dir
    * contract); testdata ships flat single files, so expose a table
    * through a dataset-scoped scratch dir via symlink. Shared by every
    * streaming catalog entry.
    */
  private[queries] def tableStreamDir(d: String, table: String): String = {
    val streamDir = Harness.scratch(s"stream_$table", d)
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve(s"$table.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(d, s"$table.parquet").toAbsolutePath)
    streamDir.toString
  }

  private[queries] def lineitemStreamDir(d: String): String = tableStreamDir(d, "lineitem")

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
    * materializations. private[graft]: StreamingSpec replays the staged
    * files in batch Scala.
    */
  private[graft] val lateStream = Harness.staged("late_stream") { (s, d, root) =>
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
    Harness.stageFiles(root, Seq(
      "f1" -> part(0, 7),
      "f2" -> part(7, 14).unionAll(plantsKept),
      "f3" -> part(14, 21).unionAll(plantsLate),
      "f4" -> part(21, Int.MaxValue).unionAll(plantsDup))
      .map { case (name, df) => name -> df.withColumn("src_file", lit(name)) })
  }

  /** Three single-file micro-batches of `frame`: file fk holds the
    * idCol%4==k rows for k = 1, 2, 3 (%4==0 seeds the base index).
    */
  private def stageMod4Batches(root: java.nio.file.Path, frame: DataFrame, idCol: String): Unit =
    Harness.stageFiles(root,
      (1 to 3).map(k => s"f$k" -> frame.filter(pmod(col(idCol), lit(4)) === k)))

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
  private[queries] val ingestStage = Harness.staged("ingest_stage") { (s, d, root) =>
    stageMod4Batches(root,
      t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id")
  }

  /** The embeddings analog of [[ingestStage]]: vec_id%4 ∈ {1,2,3}
    * staged as three fixed single-file micro-batches (%4==0 seeds the
    * index in the entry).
    */
  private[queries] val annIngestStage = Harness.staged("ann_ingest_stage") { (s, d, root) =>
    stageMod4Batches(root,
      t(s, d, "embeddings").select(col("vec_id"), col("embedding")), "vec_id")
  }

  /** Schemas of the staged document / embedding increment streams. */
  private[queries] val docStreamSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private[queries] val vecStreamSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  // --- staged SEED and SERVING indexes (r16 verdict #1b) ----------------
  // The streaming-ingest entries each rebuilt their base-corpus seed
  // index (MinHash over doc_id%4==0, int8 IVF / IVF-PQ over
  // vec_id%4==0) INSIDE every timed rep — a pure function of the corpus
  // paying Spark-build cost per run. Each seed is now a staged per-dir
  // artifact (cost lands in artifact_sec, the corpus-refresh bucket);
  // each run FILE-COPIES the tree into its private run dir, because the
  // fold's appends mutate the index — stage-and-copy, never share
  // (Harness.fold). The serving indexes are probe-only: their entries
  // read the stage directly.

  /** Seed MinHash index over the base corpus (doc_id%4==0, bands=32 —
    * the x_stream_dedup_index / x_stream_ingest_within seed).
    */
  private[queries] val seedDedupIndex = Harness.staged("seed_dedup_index") { (s, d, root) =>
    Dedup.writeMinHashIndex(
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(4)) === 0),
      "doc_id", "text", root.toString, bands = 32, mode = "overwrite")
  }

  /** Seed int8 IVF index over the base embeddings (vec_id%4==0,
    * nlist=64 — the x_stream_ann_ingest seed).
    */
  private[queries] val seedAnnIndex = Harness.staged("seed_ann_index") { (s, d, root) =>
    graft.operators.Ivf.writeInt8Index(
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .filter(pmod(col("vec_id"), lit(4)) === 0),
      "vec_id", "embedding", root.toString, nlist = 64, mode = "overwrite")
  }

  /** Seed IVF-PQ index over the base embeddings (vec_id%4==0, m=8,
    * nlist=64, hash-sampled quantizers — the closed-form-oracle
    * choice: the pruned fold re-derives them from the seed subset) —
    * the x_stream_pq_ingest seed.
    */
  private[queries] val seedPqIndex = Harness.staged("seed_pq_index") { (s, d, root) =>
    graft.operators.Pq.writeIndex(
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .filter(pmod(col("vec_id"), lit(4)) === 0),
      "vec_id", "embedding", root.toString, mode = "overwrite")
  }

  /** Full-corpus persisted int8 IVF index — the SERVING artifact
    * x_ann_index_probe reads. Probes never mutate it, so the entry
    * probes the stage directly (no copy); the build-once-probe-many
    * split is exactly the production cost model, with the build in
    * artifact_sec instead of every timed rep.
    */
  private[queries] val servedIvfIndex = Harness.staged("served_ivf_index") { (s, d, root) =>
    graft.operators.Ivf.writeInt8Index(
      t(s, d, "embeddings"), "vec_id", "embedding",
      root.toString, nlist = 64, mode = "overwrite")
  }

  /** A deliberately FRAGMENTED full-corpus int8 IVF index — the state
    * a continuously-ingesting deployment accumulates: seeded with the
    * negative-xxhash half (which provably owns the full corpus's
    * centroid hash-minima — the x_ann_index_grow construction, so
    * grown == fresh-full), then grown by three appends. Each append
    * adds one cells/ file spanning its cell range; `x_index_compact` repacks
    * a copy and probes it. Fragmentation is a pure function of the
    * corpus + append count.
    */
  private[queries] val fragmentedIvfIndex = Harness.staged("fragmented_ivf_index") { (s, d, root) =>
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val h = xxhash64(col("vec_id"))
    graft.operators.Ivf.writeInt8Index(emb.filter(h < 0),
      "vec_id", "embedding", root.toString, nlist = 64, mode = "overwrite")
    (0 until 3).foreach { k =>
      graft.operators.Ivf.writeInt8Index(
        emb.filter(h >= 0 && pmod(col("vec_id"), lit(3)) === k),
        "vec_id", "embedding", root.toString, nlist = 64, mode = "append")
    }
  }

  /** Distribution-SHIFTED increment for the quantizer-refresh audit:
    * the corpus's vectors folded into the positive orthant (`abs` —
    * exact in float on any engine) under disjoint ids. The base
    * corpus is near-symmetric around 0, so the fold is a genuine
    * covariate shift: quantizers trained on the base route and encode
    * these vectors badly, which is precisely the decay the audit
    * measures.
    */
  private[queries] def driftedIncrement(emb: DataFrame): DataFrame =
    emb.select((col("vec_id") + 10000000L).as("vec_id"),
      transform(col("embedding"), x => abs(x)).as("embedding"))

  /** Lloyd rounds for the density-adaptive refresh leg — shared by the
    * staged `adaptive/` index build and the golden generator
    * (tools/gen_pq_adaptive_golden.py pins the same constant).
    */
  private[queries] val adaptiveRefineIters = 5

  /** The three persisted IVF-PQ indexes the refresh audits probe:
    * `frozen/` = quantizers trained on the BASE
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
  private[queries] val refreshAuditIndexes = Harness.staged("refresh_audit_indexes") { (s, d, root) =>
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
  }

  /** Full-corpus persisted IVF-PQ index (rides the session-shared
    * [[pqIndex]] encode) — the serving artifact x_pq_index_probe
    * reads; probe-only like [[servedIvfIndex]].
    */
  private[queries] val servedPqIndex = Harness.staged("served_pq_index") { (s, d, root) =>
    graft.operators.Pq.writeIndex(pqIndex(s, d), root.toString, mode = "overwrite")
  }

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
  private[queries] def keyedInvalidStream(
      s: SparkSession, d: String): org.apache.spark.sql.Dataset[(String, Boolean)] = {
    import s.implicits._
    val schema = t(s, d, "lineitem").schema
    s.readStream.schema(schema).parquet(lineitemStreamDir(d))
      .withColumn("errors", RuleCompiler.compileRow(lineitemRules))
      .select(coalesce(col("l_returnflag"), lit("")).as("k"),
        (size(col("errors")) > 0).as("inv"))
      .as[(String, Boolean)]
  }

  // the x_ann_ivf_pq / x_pq_index_probe / x_pq_index_grow shared oracle
  // (the three entries are bit-identical by construction -- see the entries)
  private[queries] val ivfPqOracleSql: String =
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

  /** Every catalog entry, family by family. A family file declares each
    * entry once: its plan, its DuckDB oracle directly below the plan, and
    * the traits Bench reads. The family objects are reached only through
    * here. Their oracles read the shared SQL fragments above when this
    * val initializes, and their build lambdas read the rest of this
    * object only when they run, so `catalog` stays the last val here.
    */
  val catalog: Seq[CatalogEntry] = CatalogEntry.distinct(
    RelationalEntries.entries ++ RuleEntries.entries ++ AggregateEntries.entries ++
      DedupEntries.entries ++ VectorEntries.entries ++ StreamingEntries.entries ++
      TextEntries.entries ++ EventEntries.entries ++ SamplingEntries.entries ++
      IoEntries.entries)

  /** Each entry's plan by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(e => e.name -> e.build).toMap

  /** Each entry's DuckDB oracle SQL by name. An immutable map, so its
    * iteration order, and with it the bytes of Verify's oracle_sql.json,
    * depends on the key set only.
    */
  val oracleSql: Map[String, String] = catalog.map(e => e.name -> e.oracle).toMap
}
