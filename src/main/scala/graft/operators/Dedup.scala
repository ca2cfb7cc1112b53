package graft.operators

import graft.functions.VectorFunctions
import graft.sources.IndexManifest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale text corpora.
  *
  * Generalizes the reference's only cross-row operator — the global
  * duplicate_check (reference src/data_validator.py:204-226) — to the
  * dedup family a training-data pipeline needs: exact, MinHash-LSH,
  * SimHash, and n-gram Jaccard. All are expressed as declarative plans:
  * the candidate-generation stages are hash-partitioned `groupBy`s
  * (one shuffle each), and near-dup verification only ever runs on
  * WITHIN-BUCKET candidate pairs — there is no all-pairs self-join
  * anywhere, so the plans survive a 100 TB corpus (cost is bounded by
  * bucket skew, not corpus size squared).
  */
/** A near-dup result with ownership of the operator's cached
  * intermediate projection. The pairs frame is lazy, so the operator
  * cannot release its own cache — the caller decides when: either
  * `use { pairs => ... }` (scoped, releases in `finally`), or keep the
  * handle and call [[unpersistIntermediate]] after materializing.
  * `bucketMetric` is the stable name of the bucket-overflow observation
  * attached to the plan (read it from
  * `df.queryExecution.observedMetrics(bucketMetric)` after an action).
  */
final case class NearDupResult(
    pairs: DataFrame,
    bucketMetric: String,
    private val cached: Option[DataFrame]
) {
  /** Release the cached intermediate (no-op when storage was NONE). */
  def unpersistIntermediate(blocking: Boolean = false): Unit =
    cached.foreach(_.unpersist(blocking))

  /** Run `f` over the pairs and release the cached intermediate
    * afterwards — the leak-free shape for long-running sessions.
    */
  def use[T](f: DataFrame => T): T =
    try f(pairs) finally unpersistIntermediate()
}

object Dedup {

  // ---------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------

  /** Exact dedup on arbitrary key columns: keep the lowest-id row per
    * group, via `min_by` — a true algebraic aggregate, so map-side
    * partials shrink each hot key to one row per input partition before
    * the shuffle (a row_number window would funnel every member of a
    * hot duplicate group through a single reducer).
    */
  def exactDedup(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val allCols = df.columns.map(col)
    // ordering key (isNull, id): non-null ids win; a group whose ids are
    // ALL null still keeps one real row (bare min_by would ignore null
    // ordering values and fabricate an all-null row)
    val ord = struct(col(idCol).isNull.as("n"), col(idCol).as("v"))
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(allCols.toIndexedSeq: _*), ord).as("__row"))
      .select(col("__row.*"))
  }

  /** Groups of exact duplicates (group key + member count), for audit.
    * count() is algebraic (map-side partials); key columns travel in
    * the shuffle — pre-hash them yourself (xxhash64) when they are wide
    * text and the original key values are not needed downstream.
    */
  def exactDupGroups(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  // ---------------------------------------------------------------------
  // Shingling + MinHash
  // ---------------------------------------------------------------------

  /** Token n-gram shingles of a text column, as a deduplicated array
    * (first-occurrence order). Native kernel — one fused pass; docs
    * shorter than n tokens yield an empty array.
    */
  def shingles(text: Column, n: Int): Column = VectorFunctions.shingles(text, n)

  /** MinHash signature (length = numHashes) over a shingle array.
    * Native kernel: each shingle hashed once, k affine rehashes —
    * O(shingles) string hashing instead of k hashes per shingle.
    */
  def minHashSignature(shingleArr: Column, numHashes: Int): Column =
    VectorFunctions.minHashSignature(shingleArr, numHashes)

  /** Fused MinHash signature + LSH band buckets: element b is the
    * bucket hash of signature rows [b*rows, (b+1)*rows). Docs agreeing
    * on ANY band land in the same bucket.
    */
  def minHashBands(shingleArr: Column, numHashes: Int, bands: Int): Column =
    VectorFunctions.minHashBands(shingleArr, numHashes, bands)

  /** Exact Jaccard similarity of two string arrays (set semantics).
    * Native kernel — one hash-set pass per pair.
    */
  def jaccard(a: Column, b: Column): Column = VectorFunctions.jaccard(a, b)

  /** MinHash + LSH near-duplicate pairs over a text column.
    *
    * Plan shape: project(shingles, signature, bands) → explode bands →
    * ONE shuffle on (band, bucket) → within-bucket id-ordered pairs →
    * distinct candidate pairs → verify with exact Jaccard on the shingle
    * sets (second shuffle to re-attach shingles). Candidate count is
    * O(sum over buckets of |bucket|²) — bounded by LSH collision
    * probability, never corpus². `maxBucket` caps pathological buckets
    * (e.g. the empty-string doc cluster) so one hot key cannot quadratic
    * the job — a bounded-cost recall tradeoff; overflow is observable via
    * the `graft_dedup_buckets_*` query metric (see [[candidatePairs]]).
    *
    * The (id, shingles) projection feeds both candidate generation and
    * pair verification. This handle-less form never caches it
    * (recompute the projection on both branches): the returned frame
    * is lazy, so nothing here could ever release a cache, and a
    * persisted projection would leak executor storage in long-running
    * sessions. Use [[minHashNearDupsResult]] (`storage` plus its
    * `use`/unpersist handle) when the projection is worth caching; at
    * 100 TB, checkpoint it to parquet instead (its `checkpointDir`)
    * rather than relying on executor block storage.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 1000,
      metricName: Option[String] = None
  ): DataFrame =
    minHashNearDupsResult(df, idCol, textCol, shingleSize, numHashes, bands,
      threshold, maxBucket, StorageLevel.NONE, metricName).pairs

  /** [[minHashNearDups]] with a [[NearDupResult]] handle: caller-owned
    * cache lifecycle + the stable bucket-overflow metric name.
    * `metricName` must be unique within a single combined query when
    * composing several dedup plans (default is derived from the column
    * names, deterministic across runs).
    *
    * `checkpointDir` is the 100 TB scale path for the shared (id,
    * shingles) projection: when set, the projection is written to
    * parquet there ONCE (eagerly, at call time) and both consumers —
    * candidate generation and pair verification — re-read it, so the
    * shingle kernel runs exactly once per document and the intermediate
    * lives on durable storage instead of executor block memory
    * (`storage` is ignored; there is nothing to unpersist). The caller
    * owns the directory's lifecycle — delete it only after the pairs
    * frame is fully materialized.
    */
  def minHashNearDupsResult(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 1000,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      metricName: Option[String] = None,
      checkpointDir: Option[String] = None
  ): NearDupResult = {
    val metric = metricName.getOrElse(s"graft_dedup_buckets_minhash_${idCol}_$textCol")
    val projected = df
      .select(col(idCol).as("id"),
        shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    val withShingles = checkpointDir match {
      case Some(dir) =>
        projected.write.mode("overwrite").parquet(dir)
        df.sparkSession.read.parquet(dir)
      case None =>
        if (storage == StorageLevel.NONE) projected else projected.persist(storage)
    }
    val sigs = withShingles
      .select(col("id"),
        posexplode(minHashBands(col("sh"), numHashes, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    val pairs = candidatePairs(sigs, maxBucket, metric)
    val verified = verifyPairs(pairs,
      withShingles.select(col("id"), col("sh").as("payload")),
      jaccard(col("payload_a"), col("payload_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    NearDupResult(verified, metric,
      if (checkpointDir.isDefined || storage == StorageLevel.NONE) None
      else Some(withShingles))
  }

  /** MinHash ESTIMATED near-dup pairs: LSH candidate pairs scored by
    * SIGNATURE AGREEMENT alone (`n_agree` of `numHashes` rows equal),
    * with NO exact verification — the cheap pass whose fidelity
    * `x_minhash_vs_exact` audits against the exact-Jaccard pair graph.
    * E[n_agree/numHashes] = J(A,B) (Broder 1997), so `threshold` keeps
    * pairs with n_agree ≥ ceil(threshold·numHashes).
    *
    * Scale shape: identical candidate machinery to
    * [[minHashNearDupsResult]] (one banding shuffle, capped-collect
    * buckets, id-only pair expansion); the agreement zip runs only
    * over candidate pairs (pair-bounded, so the interpreted HOF is off
    * the corpus-proportional path). The signature projection is
    * evaluated by both the banding branch and the payload join — at
    * corpus scale route it through a checkpoint like
    * [[minHashNearDupsResult]]'s `checkpointDir`; for the audit's
    * pair-bounded volumes the recompute is cheaper than a persist.
    */
  def minHashEstimatedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      metricName: Option[String] = None
  ): DataFrame = {
    val metric = metricName.getOrElse(s"graft_minhash_est_${idCol}_$textCol")
    val projected = df
      .select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        minHashSignature(col("sh"), numHashes).as("sig"),
        minHashBands(col("sh"), numHashes, bands).as("bk"))
    val banded = projected
      .select(col("id"), posexplode(col("bk")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val pairs = candidatePairs(banded, maxBucket, metric)
    val minAgree = math.ceil(threshold * numHashes).toLong
    verifyPairs(pairs, projected.select(col("id"), col("sig").as("payload")),
      aggregate(
        zip_with(col("payload_a"), col("payload_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v).as("n_agree"))
      .filter(col("n_agree") >= minAgree)
  }

  /** Id-only candidate pairs from banded rows (`id`, `bk:{band,bucket}`):
    * ONE shuffle on (band, bucket), per-bucket id-pair expansion, global
    * pair dedup. Pairs carry ONLY two longs — never the documents'
    * payload — so a hot bucket costs O(B²·16 bytes), not O(B²·payload):
    * the quadratic term stays cheap even at `maxBucket`, which is what
    * lets this survive a skewed 100 TB corpus. Payloads are re-attached
    * by [[verifyPairs]] afterwards.
    *
    * Buckets larger than `maxBucket` are dropped — a bounded-cost recall
    * tradeoff (an overflowing bucket CAN contain genuine non-identical
    * near-dup pairs, e.g. under coarse SimHash blocks). The loss is
    * observable: the plan carries a caller-keyed observation (the
    * [[NearDupResult.bucketMetric]] name) with `overflow_buckets` /
    * `overflow_rows` / `max_bucket_size`, surfaced through
    * `Dataset.observe` → `QueryExecutionListener` or
    * `df.queryExecution.observedMetrics` after an action.
    *
    * The cap bounds MEMORY, not just pair expansion, via
    * [[graft.functions.CappedCollect]]: one groupBy whose aggregation
    * buffer holds at most `maxBucket` ids per bucket BY CONSTRUCTION
    * while the exact group count keeps accumulating. A viral duplicate
    * (10⁷–10⁸ copies of one document at 100 TB) therefore never
    * materializes its id list in any reducer's buffer, and `banded` —
    * an expensive kernel projection — is scanned exactly ONCE with one
    * shuffle (the r8 two-phase count-then-collect variant bounded the
    * buffer too, but paid a second full evaluation of `banded` for the
    * pre-count; CappedCollect's exact `cnt` replaces it). The exact
    * counts also feed the observation (`overflow_buckets` /
    * `overflow_rows` / `max_bucket_size` under the caller-keyed
    * [[NearDupResult.bucketMetric]] name) with nothing lost.
    */
  private[operators] def candidatePairs(banded: DataFrame, maxBucket: Int, metric: String): DataFrame = {
    val sz = col("cc.cnt")
    val sortedIds = array_sort(col("cc.vals"))
    banded
      .groupBy(col("band"), col("bucket"))
      .agg(graft.functions.CappedCollect.cappedCollect(col("id"), maxBucket).as("cc"))
      .observe(metric,
        sum(when(sz > maxBucket, 1L).otherwise(0L)).as("overflow_buckets"),
        sum(when(sz > maxBucket, sz).otherwise(0L)).as("overflow_rows"),
        coalesce(max(sz), lit(0L)).cast(IntegerType).as("max_bucket_size"))
      .filter(sz.between(2, maxBucket))
      .select(explode(
        flatten(transform(sortedIds, (a, i) =>
          transform(slice(sortedIds, i + 2, size(sortedIds)), b =>
            struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Re-attach payloads to id pairs and compute a verification measure.
    * Two hash joins keyed on id; AQE picks broadcast vs shuffle by the
    * actual pair/payload sizes.
    */
  private[operators] def verifyPairs(
      pairs: DataFrame,
      payloads: DataFrame, // (id, payload)
      measure: Column
  ): DataFrame =
    pairs
      .join(payloads.select(col("id").as("id_a"), col("payload").as("payload_a")), "id_a")
      .join(payloads.select(col("id").as("id_b"), col("payload").as("payload_b")), "id_b")
      .select(col("id_a"), col("id_b"), measure)

  // ---------------------------------------------------------------------
  // Exact n-gram Jaccard
  // ---------------------------------------------------------------------

  /** COUNTING co-occurrence candidate filter shared by the exact
    * set-similarity joins (Jaccard + containment — the group-join form
    * of Bayardo WWW'07 / Vernica SIGMOD'10): bucket docs by each
    * shingle's 64-bit hash, expand each bucket's ordered (size, id)
    * pairs ONCE (capped collect — one shuffle, no self-join), and
    * count buckets per pair. That count IS |A∩B| (a hash collision can
    * only inflate it, never lose a pair), so any overlap-threshold
    * predicate becomes computable from the 8-byte bucket stream alone
    * — no payload attach for the 99%+ of candidates that share only a
    * shingle or two, and map-side partial counts kill those before the
    * pair shuffle. Callers pass the predicate as `keep(ov, sz_s, sz_l)`
    * (`sz_s` ≤ `sz_l` — the struct sort emits the smaller side first)
    * and string-verify the survivors, which stay ~the true pair set.
    *
    * A prefix-filter route was measured first and rejected: it admits
    * every pair sharing ONE prefix shingle, and on a 500k-doc probe
    * 9.1M one-shingle candidates survived to the verify join, which
    * then dragged two full shingle-string arrays per pair through a
    * shuffle — 127 of the operator's 142 seconds.
    *
    * Shingles whose posting list exceeds `maxPostings` are capped with
    * the observe-metric contract (`overflow_buckets == 0` ⇒ the result
    * is complete; specs and catalog parameters keep it 0). Under
    * overflow a pair's count misses its capped buckets, so overflow
    * here can UNDERCOUNT borderline pairs rather than just add work —
    * which is why the metric must stay observed.
    *
    * Returns one row per unordered candidate pair: (id_a, id_b),
    * id_a < id_b.
    */
  private def countingCandidatePairs(
      projected: DataFrame, // (id, sh)
      maxPostings: Int,
      metric: String,
      keep: (Column, Column, Column) => Column
  ): DataFrame = {
    val occ = projected.select(
      size(col("sh")).as("sz"), col("id"),
      explode(transform(col("sh"), sh => xxhash64(sh))).as("bucket"))
    val bsz = col("cc.cnt")
    // (sz, id) struct sort ⇒ pair expansion emits the SMALLER side
    // first, ties broken by id, each unordered pair at most once per
    // bucket — so the per-pair bucket count below is exactly |A∩B|
    // (modulo hash collisions, inflation-only)
    val sorted = array_sort(col("cc.vals"))
    occ
      .groupBy(col("bucket"))
      .agg(graft.functions.CappedCollect.cappedCollect(
        struct(col("sz"), col("id")), maxPostings).as("cc"))
      .observe(metric,
        sum(when(bsz > maxPostings, 1L).otherwise(0L)).as("overflow_buckets"),
        sum(when(bsz > maxPostings, bsz).otherwise(0L)).as("overflow_rows"),
        coalesce(max(bsz), lit(0L)).cast(IntegerType).as("max_bucket_size"))
      .filter(bsz.between(2, maxPostings))
      .select(explode(
        flatten(transform(sorted, (a, i) =>
          transform(slice(sorted, i + 2, size(sorted)), b =>
            struct(a.getField("id").as("id_s"), b.getField("id").as("id_l"),
              a.getField("sz").as("sz_s"), b.getField("sz").as("sz_l")))))).as("p"))
      .groupBy(col("p.id_s").as("id_s"), col("p.id_l").as("id_l"),
        col("p.sz_s").as("sz_s"), col("p.sz_l").as("sz_l"))
      .agg(count(lit(1)).as("ov"))
      .filter(keep(col("ov"), col("sz_s"), col("sz_l")))
      .select(least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"))
  }

  /** EXACT n-gram Jaccard near-dup pairs — no LSH approximation.
    * Candidate generation is the counting co-occurrence join
    * ([[countingCandidatePairs]]): the per-pair shared-shingle count
    * decides candidacy (`ov >= t·(|A|+|B|)/(1+t)`) on 8-byte keys
    * before any payload attaches. Every candidate is then verified
    * with the exact-Jaccard kernel over the full shingle sets, so the
    * EMITTED jaccard is always exact — `maxPostings` (a stop-shingle
    * cap, same contract as the LSH bucket cap) affects only RECALL: a
    * pair is missed only when enough of its shared shingles overflow
    * to push the observed count under the bound. Note this contract is
    * STRICTLY about `overflow_buckets == 0` ⇒ complete: under nonzero
    * overflow EVERY capped shingle silently subtracts from every
    * affected pair's count, so a borderline pair can be lost when only
    * SOME of its shared shingles are hot (the former prefix filter
    * lost a pair only if ALL its shared shingles overflowed — the
    * counting filter trades that slack for its ~linear scaling). Treat
    * any nonzero `overflow_buckets` as an incomplete result and raise
    * `maxPostings` (or pre-drop the hot stop-shingles) rather than
    * reasoning about partial recall. The loss is always observable via
    * the [[NearDupResult.bucketMetric]] observation. The cap is a single-scan
    * capped collect (see [[candidatePairs]]): a hot shingle's posting
    * buffer stops growing at `maxPostings` ids while its exact count
    * keeps accumulating, so the corpus' hottest shingle cannot OOM a
    * reducer.
    *
    * Bucket-expansion volume is Σ |posting|² in skinny (sz, id) structs
    * (map-side-combined before the pair shuffle), far above the
    * banded-LSH collision rate — at 100 TB use
    * [[minHashNearDupsResult]]; this is the exact family for bounded
    * corpora or candidate re-checks. (Measured: the 10× probe had the
    * prefix-filter formulation at 30× for 10× data — the admitted
    * one-shingle candidates dragged full shingle arrays through the
    * verify join; the counting filter is ~linear because verify runs
    * on ~the true pair set.)
    *
    * Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    */
  def ngramJaccardNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      maxPostings: Int = 1000,
      metricName: Option[String] = None
  ): DataFrame =
    ngramJaccardFromShingles(shingleProjection(df, idCol, textCol, shingleSize),
      threshold, maxPostings,
      metricName.getOrElse(s"graft_ngram_postings_${idCol}_$textCol"))

  /** The `(id, sh)` shingle-SET projection the whole exact n-gram
    * family (Jaccard + containment) derives from — empty-set rows
    * dropped. Exposed so a session can compute the corpus-wide
    * shingle pass ONCE (persist it) and feed every consumer, instead
    * of re-shingling per operator: the projection is independent of
    * threshold and measure, only of `shingleSize`.
    */
  def shingleProjection(
      df: DataFrame, idCol: String, textCol: String, shingleSize: Int
  ): DataFrame =
    df.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)

  /** [[ngramJaccardNearDups]]'s pair-generation + verify stages
    * over a PREBUILT `(id, sh)` projection (see [[shingleProjection]]).
    */
  def ngramJaccardFromShingles(
      withShingles: DataFrame,
      threshold: Double,
      maxPostings: Int,
      metric: String
  ): DataFrame = {
    // Counting co-occurrence filter (see [[countingCandidatePairs]]):
    // J(A,B) >= t  ⟺  |A∩B| >= t·(|A|+|B|)/(1+t), so the per-pair
    // bucket count alone decides candidacy. This subsumes BOTH classic
    // prunes exactly: the prefix filter (any pair passing shares far
    // more than one shingle) and the length-ratio prune (|A∩B| ≤ |A|,
    // and t·(|A|+|B|)/(1+t) > |A| whenever |A|/|B| < t — algebraically
    // identical). The 1e-9 slack rounds the required overlap DOWN
    // (keeps a borderline pair, never drops one); the exact-Jaccard
    // kernel over the full shingle sets remains the final word on
    // every emitted pair.
    val pairs = countingCandidatePairs(withShingles, maxPostings, metric,
      (ov, szS, szL) =>
        ov >= ceil(lit(threshold / (1.0 + threshold)) * (szS + szL) - lit(1e-9)))
    verifyPairs(pairs,
      withShingles.select(col("id"), col("sh").as("payload")),
      jaccard(col("payload_a"), col("payload_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT n-gram CONTAINMENT near-dups: pairs where the smaller
    * document's shingle set lies >= `threshold` inside the other's —
    * `C(A,B) = |A∩B| / min(|A|,|B|)` (Broder 1997's containment, the
    * companion measure to resemblance/Jaccard). This is the axis
    * Jaccard-thresholded dedup structurally misses: a snippet pasted
    * into a much larger document has high containment but a Jaccard
    * diluted by the size gap below any useful threshold.
    *
    * Returns (id_a, id_b, containment), id_a < id_b; the containment
    * value is one int/int IEEE division — hash-exact.
    *
    * Candidate generation is the counting co-occurrence join
    * ([[countingCandidatePairs]] — measurement history and the
    * rejected prefix-filter route documented there): the per-pair
    * shared-shingle count decides candidacy via
    * `count >= ceil(t·|A|)` (A the smaller side) on 8-byte keys; the
    * exact string-array verify remains the final word on every
    * emitted pair. The counting filter left ~the true pair set (2560
    * on the 500k-doc probe) where the prefix filter passed 9.1M.
    * At 100 TB the same shape holds — or route candidate generation
    * through LSH on the smaller-side signature and keep this as the
    * verify stage.
    */
  def ngramContainmentNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxPostings: Int = 1000
  ): DataFrame =
    ngramContainmentFromShingles(
      shingleProjection(df, idCol, textCol, shingleSize),
      threshold, maxPostings,
      s"graft_containment_postings_${idCol}_$textCol")

  /** [[ngramContainmentNearDups]]'s candidate + verify stages over a
    * PREBUILT `(id, sh)` projection — shares [[shingleProjection]]
    * with the Jaccard family so one corpus-wide shingle pass feeds
    * both measures.
    */
  def ngramContainmentFromShingles(
      projected: DataFrame,
      threshold: Double,
      maxPostings: Int,
      metric: String
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // counting filter (see [[countingCandidatePairs]]): a pair needs
    // |A∩B| >= ceil(t·|A|) common shingles, A the SMALLER side (the
    // struct sort guarantees sz_s is min) — decidable from the 8-byte
    // bucket stream alone. Slack rounds the required overlap DOWN
    // (keeps a borderline pair, never drops one). The Jaccard
    // length-ratio prune stays structurally absent — containment
    // admits arbitrarily size-mismatched pairs (that is its point).
    val pairs = countingCandidatePairs(projected, maxPostings, metric,
      (ov, szS, _) => ov >= ceil(lit(threshold) * szS - lit(1e-9)))
    val containment =
      size(array_intersect(col("payload_a"), col("payload_b"))).cast(DoubleType) /
        least(size(col("payload_a")), size(col("payload_b"))).cast(DoubleType)
    verifyPairs(pairs,
      projected.select(col("id"), col("sh").as("payload")),
      containment.as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ---------------------------------------------------------------------
  // Incremental MinHash index (dedup new batches against a corpus)
  // ---------------------------------------------------------------------

  /** LSH parameters an index was built with — the parameter lines of
    * its manifest ([[graft.sources.IndexManifest]]).
    */
  private[operators] final case class IndexMeta(
      shingleSize: Int, numHashes: Int, bands: Int, nShards: Int) {
    def params: Seq[(String, String)] = Seq("format" -> "minhash",
      "shingleSize" -> s"$shingleSize", "numHashes" -> s"$numHashes",
      "bands" -> s"$bands", "nShards" -> s"$nShards")
  }

  private[operators] object IndexMeta {
    def of(m: IndexManifest): IndexMeta = IndexMeta(m.intParam("shingleSize"),
      m.intParam("numHashes"), m.intParam("bands"), m.intParam("nShards"))
  }

  /** Persist a corpus's MinHash-LSH index so incoming batches can be
    * near-dup-checked WITHOUT re-reading or re-shingling the corpus —
    * the production shape at 100 TB, where each crawl increment is tiny
    * relative to the accumulated corpus. Two parquet datasets under
    * `path`:
    *
    *  - `bands/`: (bucket, bucket_size, id, band) — the LSH postings,
    *    unkeyed: a probe joins them on (band, bucket) and filters on no
    *    key, so they are written straight off the `bucket_size`
    *    window's (band, bucket) exchange. `bucket_size` is
    *    denormalized per row so a probe can cap hot buckets with a
    *    cheap scan filter; the cap is a PROBE-time parameter, nothing
    *    is lost at build time.
    *  - `shingles/`: (id, sh, shard), sorted by `shard` =
    *    pmod(xxhash64(id), nShards) — the shingle sets, for
    *    exact-Jaccard verification of candidates. Sharding lets a probe
    *    read only the files whose shard range holds candidate ids
    *    instead of the whole (corpus-sized) shingle store. A small
    *    append is one file whose range spans about every shard, which
    *    every probe reads: appended shingles are pruned only once
    *    [[graft.sources.IndexCompaction.compactIndex]] rewrites them
    *    into disjoint ranges.
    *  - `meta.txt`: the manifest ([[graft.sources.IndexManifest]]) —
    *    the LSH parameters plus every committed file of both datasets,
    *    with each `shingles/` file's shard range.
    *    A probe with different parameters would bucket into silently
    *    disjoint hash spaces and report zero pairs —
    *    [[minHashProbeIndex]] validates against it and fails loudly
    *    instead. The manifest rename is the commit: both datasets are
    *    staged first, so a failed write leaves the previous version
    *    readable, and an overwrite deletes the old files only after
    *    the new manifest is in place.
    *
    * The bucket sizes come from an algebraic count(*) joined back onto
    * the posting rows (no collect_list — per-bucket memory is constant,
    * so a viral duplicate cannot OOM a reducer at build time).
    * `storage` persists the shingle projection, which three passes
    * read: the `shingles/` write's range sample and its shuffle, and
    * the `bands/` write. With `StorageLevel.NONE` the shingle kernel
    * runs three times over the corpus.
    * Growing the corpus = appending new docs' postings (build the
    * increment's index with `mode="append"` after probing it). Under
    * append, `bucket_size` is per-INCREMENT: a probe's `maxBucket` cap
    * bounds each increment's contribution to a bucket rather than the
    * union bucket (probe cost stays bounded by increments × cap; no
    * candidates are lost that a global count would have kept).
    */
  def writeMinHashIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      mode: String = "error",
      nShards: Int = 64,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK
  ): Unit = {
    val params = IndexMeta(shingleSize, numHashes, bands, nShards)
    // append onto an existing index must use ITS parameters, or the
    // increments' buckets/shards live in disjoint hash spaces
    val base = IndexManifest.base(corpus.sparkSession, path, mode, "minhash").onto
    base.foreach { existing =>
      val built = IndexMeta.of(existing)
      require(built == params,
        s"index at $path was built with $built; cannot $mode with $params")
    }
    appendMinHash(corpus, idCol, textCol, path, params, base, storage)
  }

  /** The shingle + posting write of `corpus` under `meta`, committed
    * on top of `base` with its parameter lines (replay marker included),
    * or as a fresh index with `meta`'s when there is none — shared by
    * [[writeMinHashIndex]] and [[ingestDedupBatchTo]], whose append
    * extends the manifest version its probe read.
    */
  private def appendMinHash(
      corpus: DataFrame, idCol: String, textCol: String, path: String,
      meta: IndexMeta, base: Option[IndexManifest],
      storage: StorageLevel = StorageLevel.NONE
  ): Unit = {
    val spark = corpus.sparkSession
    // band from THIS frame's projection, never from a re-read of
    // path/shingles: under mode="append" (the corpus-growth workflow) a
    // re-read would see old increments too and re-append every existing
    // posting — duplicated ids, conflicting bucket_size values, and
    // quadratic index growth per increment. Both writes are actions
    // inside this call, so the persist (one shingle-kernel run instead
    // of three: the shingles write's range sample and its shuffle each
    // evaluate src, and so does the bands write) can be released before
    // returning; a fold step's small batch skips it.
    val projected = corpus
      .select(col(idCol).as("id"), shingles(col(textCol), meta.shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    val src = if (storage == StorageLevel.NONE) projected else projected.persist(storage)
    try IndexManifest.commit(spark, path, base.fold(meta.params)(_.params), base) { stage =>
      val shinglesWrite = () => stage.write(
        src.withColumn("shard", pmod(xxhash64(col("id")), lit(meta.nShards.toLong))),
        "shingles", Some("shard"))
      // bucket_size via a WINDOW count over (band, bucket), NOT a
      // collect_list+size (a viral duplicate's bucket would be
      // materialized whole in one reducer's non-spillable aggregation
      // buffer just to be measured) and NOT a count+join-back (which
      // re-evaluates the banding kernel for the pre-count — two full
      // scans). WindowExec buffers each bucket through a SPILLABLE
      // external sorter, so a viral bucket costs disk, never an OOM,
      // and the kernel projection is scanned exactly once.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bucket"))
      val bandsWrite = () => stage.write(
        src
          .select(col("id"), posexplode(minHashBands(col("sh"), meta.numHashes, meta.bands)))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
          .withColumn("bucket_size", count(lit(1)).over(w).cast(IntegerType))
          .select(col("bucket"), col("bucket_size"), col("id"), col("band")),
        "bands", None)
      // the two dataset writes are INDEPENDENT (disjoint directories,
      // both deterministic projections of src) — overlap them so the
      // tail of one write's stages back-fills the other's idle slots
      // (Spark schedules concurrent driver-thread jobs FIFO; the
      // optimization-guide §2.6 shape). Any failure propagates before
      // the manifest commits and discards the stage, so no reader
      // sees a partial write.
      Actions.runConcurrently(shinglesWrite, bandsWrite)
    } finally if (storage != StorageLevel.NONE) src.unpersist()
    ()
  }

  /** Near-dup pairs between a new `batch` and an indexed corpus (see
    * [[writeMinHashIndex]]): returns (batch_id, corpus_id, jaccard)
    * with jaccard >= threshold.
    *
    * Plan shape: the batch is shingled/banded in memory, joined to the
    * index postings on (band, bucket) — the only corpus-sized work is
    * that join's scan of `bands/` (id-only postings, a small fraction
    * of corpus bytes). Verification then reads ONLY the shingle shards
    * containing candidate ids: candidate corpus_ids are hashed to their
    * shard, the set of hit shards is an observed metric
    * (`collect_set`, at most the index's nShards values, like Ivf's
    * cell literals) of the job that checkpoints the candidates, and it
    * is pushed as a `shard IN` filter, which drops the files whose
    * shard range misses it, so a small probe touches a small slice of
    * the shingle store instead of all of it — of the built or
    * compacted store: each appended file spans its batch's shards,
    * about all of them, and is read by every probe until compaction.
    * Hot corpus buckets are skipped by the `bucket_size <= maxBucket`
    * scan filter — deliberately PUSHED DOWN to the parquet scan
    * (row-group skipping), which also means an
    * attached `observe` could not see the skipped rows; quantify the
    * loss with [[minHashIndexStats]] instead (a one-column scan).
    *
    * Parameters must match the index build — the LSH bucket hashes are
    * deterministic kernels, so differing parameters means disjoint hash
    * spaces and silently zero pairs. The build writes them to the
    * manifest (`meta.txt`); this probe validates against it and fails
    * loudly on a mismatch or on an index without one.
    *
    * Both scans come from ONE manifest version read when the probe is
    * built: they list nothing and infer no schema, and an append that
    * commits later (the fold's concurrent one) is invisible to them.
    *
    * The batch shingle projection is evaluated twice (banding +
    * verification); every input is a parquet scan through deterministic
    * kernels, so the evaluations agree. A crawl increment is small by
    * definition — recompute beats cache management for the batch side;
    * persist `batch` upstream if yours is not. The CANDIDATE frame, by
    * contrast, is materialized once (localCheckpoint): that job also
    * yields the hit shards, and verification reads its blocks, where
    * recomputing it would re-run the postings join against the
    * corpus-sized bands dataset — the one genuinely index-proportional
    * scan here. Building the probe therefore runs one action, the
    * checkpoint, and no collect.
    */
  def minHashProbeIndex(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 1000
  ): DataFrame =
    probeMinHash(IndexManifest.load(spark, path, "minhash"), batch, idCol, textCol, path,
      shingleSize, numHashes, bands, threshold, maxBucket)

  /** [[minHashProbeIndex]] over one manifest version of the index at `path`. */
  private def probeMinHash(
      manifest: IndexManifest, batch: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int
  ): DataFrame = {
    val spark = batch.sparkSession
    val built = IndexMeta.of(manifest)
    val probing = IndexMeta(shingleSize, numHashes, bands, built.nShards)
    require(built == probing,
      s"index at $path was built with $built; probing with $probing would " +
        "bucket into a disjoint hash space and silently find nothing")
    val batchSh = batch
      .select(col(idCol).as("batch_id"), shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    // localCheckpoint materializes the candidate-bounded frame once, so
    // the verification join reads its blocks instead of re-running the
    // postings join against the corpus-sized bands dataset (r18). The
    // same job observes the set of shards that hold candidates (at most
    // nShards values, never candidate-count-bounded), which prunes the
    // shingle scan below with no job of its own.
    val observed =
      probeCandidates(manifest.scan(spark, path, "bands"), batchSh,
        numHashes, bands, maxBucket)
        .observe("hit_shards",
          collect_set(pmod(xxhash64(col("corpus_id")), lit(built.nShards.toLong))))
    val candidates = observed.localCheckpoint()
    val hit = observed.queryExecution.observedMetrics("hit_shards").getSeq[Long](0)
    val corpusSh = manifest.scan(spark, path, "shingles")
      .filter(col("shard").isin(hit.toIndexedSeq: _*))
    candidates
      .join(batchSh.select(col("batch_id"), col("sh").as("sh_a")), "batch_id")
      .join(corpusSh.select(col("id").as("corpus_id"), col("sh").as("sh_b")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The probe's CANDIDATE stage — batch bands joined to the index
    * postings under the maxBucket cap, self-pairs dropped, one row per
    * (batch_id, corpus_id). Extracted from [[minHashProbeIndex]] so
    * the decade-probe tooling ([[graft.tools.AsymProbe]]) can count
    * the frame the probe localCheckpoints: the materialized volume is
    * bounded by banding collisions (∝ near-dup pairs at healthy
    * parameters), never corpus size — the r19 scale evidence for the
    * checkpoint-never-becomes-the-spill-hazard argument (guide §5).
    * `postings` is the index's `bands/` scan ([[postingsScan]]) and
    * `batchSh` the (batch_id, sh) shingle projection.
    */
  private[graft] def probeCandidates(
      postings: DataFrame,
      batchSh: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucket: Int
  ): DataFrame = {
    val batchBands = batchSh
      .select(col("batch_id"), posexplode(minHashBands(col("sh"), numHashes, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    postings
      .filter(col("bucket_size") <= maxBucket)
      .join(batchBands, Seq("band", "bucket"))
      .select(col("batch_id"), col("id").as("corpus_id"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
  }

  /** The `bands/` postings of the index at `path`, at its current
    * manifest version.
    */
  private[graft] def postingsScan(
      spark: org.apache.spark.sql.SparkSession, path: String
  ): DataFrame =
    IndexManifest.load(spark, path, "minhash").scan(spark, path, "bands")

  /** Recall loss a probe with this `maxBucket` would incur: postings in
    * overflowing buckets, distinct overflowing buckets, and the largest
    * bucket. One aggregate over the postings' two small int columns
    * (parquet reads nothing else) — run it to size `maxBucket` against
    * a real corpus before probing.
    */
  def minHashIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxBucket: Int
  ): (Long, Long, Int) = {
    val r = postingsScan(spark, path)
      .agg(
        coalesce(sum(when(col("bucket_size") > maxBucket, 1L).otherwise(0L)),
          lit(0L)).as("overflow_postings"),
        // each overflowing bucket contributes bucket_size postings, so
        // count 1/bucket_size per posting — exact, single pass
        coalesce(sum(when(col("bucket_size") > maxBucket,
          lit(1.0) / col("bucket_size"))), lit(0.0)).as("overflow_buckets"),
        coalesce(max(col("bucket_size")), lit(0)).as("max_bucket_size"))
      .collect()(0)
    (r.getLong(0), math.round(r.getDouble(1)), r.getInt(2))
  }

  /** The batch rows NOT near-duplicating the indexed corpus — the
    * "keep only novel documents" step of an incremental ingest.
    */
  def keepNovel(batch: DataFrame, idCol: String, probePairs: DataFrame): DataFrame =
    batch.join(
      probePairs.select(col("batch_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** One step of a SEQUENTIAL dedup-ingest fold — the streaming face
    * of the [[writeMinHashIndex]]/[[minHashProbeIndex]] family: probe
    * `batch` against the index at `path`, compute the novel rows
    * ([[keepNovel]]), hand them to `sink`, and append the WHOLE batch
    * to the index. Driving this from `foreachBatch` (micro-batches
    * execute strictly in sequence) makes each arriving batch
    * deduplicate against EVERYTHING previously seen — the base corpus
    * plus every earlier increment — which a one-shot probe cannot
    * express.
    *
    * The novel frame's lineage reads only `batch` and the checkpointed
    * probe pairs — never the index — so `sink(novel)` runs OVERLAPPED
    * with the index append (guide §2.6): the intra pass's
    * banding/verify stages back-fill the append writes' stage tails
    * instead of queueing behind them.
    *
    * Policy, stated not hidden: the index grows by the full batch, not
    * just its novel rows. "Novel" therefore means "no near-dup among
    * previously SEEN docs" — a deterministic, order-independent-
    * within-batch predicate (and exactly re-derivable by an exact-
    * Jaccard oracle over earlier-batch membership). Indexing only
    * accepted rows would make batch-k novelty depend on which batch-j
    * rows were themselves accepted — a recursive predicate whose
    * outcome shifts with within-batch acceptance details — and would
    * keep a near-dup of a REJECTED dup. Within-batch duplicates are
    * both kept (the probe compares batch to index, never batch to
    * itself); `dedupWithinBatch = true` composes the intra-batch pass
    * for you ([[minHashNearDups]] over the index-novel rows, keeping
    * exactly the docs with NO smaller-id near-dup in the batch — a
    * per-pair rule, deterministic and oracle-re-derivable). The index
    * still grows by the FULL batch either way, so downstream novelty
    * never depends on within-batch survivor choices.
    *
    * At-least-once replay (`batchId`): the
    * [[graft.sources.IndexManifest.foldStep]] contract. Replay emission
    * is dedup-more, never dedup-less: the replay's probe sees the index
    * that already holds the batch, so within-batch near-dups (kept on
    * first delivery by policy) anti-join away, while singletons re-emit
    * identically (exact self-id pairs are excluded by the probe).
    *
    * Caller persists `batch` if re-reading it is expensive — it is
    * scanned by the probe, the anti-join, and the index append.
    */
  def ingestDedupBatchTo(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 1000,
      batchId: Option[Long] = None,
      dedupWithinBatch: Boolean = false,
      sink: DataFrame => Unit
  ): Unit = {
    IndexManifest.foldStep(spark, path, "minhash", batchId) { (current, _) =>
      // MATERIALIZE the probe pairs once (r18): everything downstream
      // lazily re-evaluates the probe pipeline — with dedupWithinBatch
      // the anti-joined batch feeds the intra pass's banding branch AND
      // both payload joins, so one fold step ran the index-postings
      // join + shard-pruned shingle verification up to four times. The
      // pair frame is near-dup-pair-bounded (≪ batch), so the eager cut
      // is cheap and every consumer reads materialized blocks. It is
      // also what keeps `kept` off the index, so the sink can overlap
      // the append.
      val pairs = probeMinHash(current, batch, idCol, textCol, path,
        shingleSize, numHashes, bands, threshold, maxBucket)
        .localCheckpoint()
      val afterIndex = keepNovel(batch, idCol, pairs)
      if (!dedupWithinBatch) afterIndex
      else {
        // intra-batch pass over the index-novel rows only (index dups
        // are already gone — fewer rows to shingle): drop the larger
        // id of every near-dup pair, i.e. keep docs with no smaller-id
        // near-dup. Same LSH parameters as the probe, so batch-vs-self
        // and batch-vs-index candidate recall agree. The anti-joined
        // batch is re-shingled by the pass's banding and payload
        // branches — measured cheaper than persist/release churn for
        // batch-sized frames (a crawl increment is small by
        // definition), now that the probe pairs above are materialized
        // and the recompute no longer drags the index scan with it.
        val intra = minHashNearDups(afterIndex, idCol, textCol,
          shingleSize, numHashes, bands, threshold, maxBucket)
        afterIndex.join(
          intra.select(col("id_b").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
      }
    }(base => appendMinHash(batch, idCol, textCol, path, IndexMeta.of(base), Some(base)))(sink)
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash of a token array: per bit, sum +1/-1 votes across
    * token hashes; bit set where the vote is positive. Native kernel —
    * one fused vote loop per row, no shuffle.
    */
  def simHash(tokens: Column): Column = VectorFunctions.simHash64(tokens)

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance <= maxDistance.
    * Pigeonhole bucketing: split the 64-bit hash into (maxDistance+1)
    * blocks; any pair within distance d agrees exactly on >= 1 block, so
    * grouping by (block index, block value) finds all candidates with
    * ONE shuffle — no all-pairs join. Verified with exact hamming.
    * The (id, hash) projection feeds both banding and verification; it
    * is recomputed, never cached (a lazy handle-less result could not
    * release a cache).
    */
  def simHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucket: Int = 1000,
      metricName: Option[String] = None
  ): DataFrame = {
    val metric = metricName.getOrElse(s"graft_dedup_buckets_simhash_${idCol}_$textCol")
    val blocks = maxDistance + 1
    val bits = 64 / blocks
    val hashed = df.select(
      col(idCol).as("id"),
      simHash(TextAnalysis.tokens(col(textCol))).as("h"))
    val banded = hashed.select(
      col("id"),
      explode(array((0 until blocks).map { b =>
        val mask = if (bits >= 64) -1L else (1L << bits) - 1L
        struct(lit(b).as("band"),
          shiftright(col("h"), b * bits).bitwiseAND(mask).as("bucket"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val pairs = candidatePairs(banded, maxBucket, metric)
    verifyPairs(pairs, hashed.select(col("id"), col("h").as("payload")),
      hamming64(col("payload_a"), col("payload_b")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  // ---------------------------------------------------------------------
  // Embedding near-dup (cosine >= threshold)
  // ---------------------------------------------------------------------

  /** Embedding-cosine near-dup pairs via random-hyperplane LSH buckets
    * (reuses Similarity.signBucket); candidates verified with exact
    * cosine. Same one-shuffle bucket-join shape as MinHash. The
    * (id, vector) projection feeds both banding and verification; it
    * is re-read, never cached (a lazy handle-less result could not
    * release a cache).
    */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 12,
      tables: Int = 4,
      maxBucket: Int = 1000,
      targetBucket: Int = 32,
      metricName: Option[String] = None
  ): DataFrame = {
    val metric = metricName.getOrElse(s"graft_dedup_buckets_embedding_${idCol}_$vecCol")
    // bucketing is scale-invariant -> bucket raw vectors (no normalize
    // pass); verification computes exact cosine on the raw payloads
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // plane count grows with the corpus (Similarity.adaptivePlanes —
    // the r13 scale-probe fix): mean bucket occupancy stays
    // ~targetBucket at any n, so candidate volume is linear, not
    // quadratic; `planes` is the floor and pins the test-SF goldens
    // (pin bound n <= 2^floor·targetBucket: 2048 at floor 6 /
    // target 32, 131072 at floor 12).
    // df.count() (not base): a metadata-foldable count of the raw
    // input — an upper bound on n is all plane sizing needs
    val planesEff = Similarity.adaptivePlanes(
      df.count(), targetBucket, floor = planes)
    val banded = base.select(col("id"), posexplode(
        VectorFunctions.signBuckets(col("v"), planesEff, tables, baseSeed = 17L)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val pairs = candidatePairs(banded, maxBucket, metric)
    verifyPairs(pairs, base.select(col("id"), col("v").as("payload")),
      Similarity.cosine(col("payload_a"), col("payload_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SEMANTIC dedup — the SemDeDup pipeline shape (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): embedding-cosine near-dup PAIRS → transitive
    * closure into clusters → ONE canonical survivor (minimum id) per
    * cluster; returns the rows of `df` that survive. Semantic
    * duplicates (paraphrases, re-encodings, boilerplate variants) that
    * token-level dedup cannot see are removed as groups, not just
    * pairwise — the same pairs→components→survivor discipline the
    * token-level family uses ([[Clusters]]), applied to the embedding
    * space.
    *
    * Composition of three independently verified stages:
    * [[embeddingNearDups]] (hyperplane-LSH candidates + exact-cosine
    * verify), [[Clusters.connectedComponents]] (alternating
    * large-star/small-star, bounded driver finisher), and
    * [[Clusters.dedupClusters]] (anti-join — the corpus frame is
    * filtered in place, never shuffled). Scale shape is inherited: one
    * (band,bucket) shuffle over id-only candidates, id-only edge list
    * for the components, and a broadcast anti-join back; nothing here
    * is all-pairs. SemDeDup proper clusters with k-means and prunes
    * within cells; hyperplane LSH buckets play the same
    * candidate-bounding role with a tunable miss probability
    * ((1-(1-θ/π)^planes)^tables per pair) and no float-seeded centroid
    * nondeterminism — which is what keeps the output oracle-exact.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 12,
      tables: Int = 4,
      maxBucket: Int = 1000,
      targetBucket: Int = 32,
      metricName: Option[String] = None
  ): DataFrame = {
    val pairs = embeddingNearDups(
      df, idCol, vecCol, threshold, planes, tables, maxBucket,
      targetBucket, metricName)
    Clusters.dedupClusters(df, idCol, Clusters.connectedComponents(pairs))
  }

  /** Cross-document repeated-passage detection — the exact-substring
    * dedup family (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): find every maximal token span that some
    * OTHER document also contains verbatim. Whereas [[nearDups]] asks
    * "are these documents similar overall?", this asks "which exact
    * passages recur across the corpus?" — the operator that catches
    * boilerplate paragraphs, license headers, and quoted copies inside
    * otherwise-distinct documents.
    *
    * Algorithm (the distributed stand-in for a suffix array): slide an
    * `n`-token window with stride 1 over each document
    * ([[TextAnalysis.chunkWindows]] kernel — windows shorter than `n`
    * are dropped, so a document with fewer than `n` tokens can never
    * match); a window is DUPLICATED when its exact text occurs in ≥ 2
    * distinct documents; per document, overlapping or adjacent
    * duplicated windows (start gap ≤ `n`) merge into one maximal span.
    * Returns `(id, span_start, span_end, n_dup_windows)` with
    * token-index spans `[span_start, span_end)` — every token inside a
    * span is covered by at least one duplicated window, so the spans
    * are exactly the regions a passage-level dedup pass would cut.
    *
    * Scale shape: the only corpus-wide exchange is the `groupBy` on
    * window text (same hash-partitioned shuffle class as the MinHash
    * band bucketing — never all-pairs); the island merge is a window
    * partitioned BY DOCUMENT (state bounded by one document's token
    * count, the same per-doc bound every text kernel here has). The
    * stride-1 windows multiply shuffled volume by ~`n` versus the raw
    * corpus — at 100 TB the duplicated-window join carries id+offset
    * pairs, and production deployments swap the window TEXT for a
    * 128-bit content hash in the groupBy key (collision probability
    * ~q²/2¹²⁸ for q distinct windows — negligible); the text key here
    * keeps the operator exact and oracle-comparable.
    */
  def duplicatePassageSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8
  ): DataFrame = {
    require(n >= 2, s"window size n must be >= 2, got $n")
    val wins = graft.operators.TextAnalysis
      .chunkWindows(df, idCol, textCol, size = n, stride = 1)
      .filter(col("n_chunk_tokens") === n)
      .select(col(idCol), col("chunk_idx").as("j"), col("chunk_text"))
    // windows whose exact text occurs in >= 2 distinct documents; the
    // join back is id+offset only — window text never rides the second
    // shuffle
    val dup = wins.groupBy("chunk_text")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select("chunk_text")
    val hits = wins.join(dup, "chunk_text").select(col(idCol), col("j"))
    // gaps-and-islands per document: windows [p, p+n) and [j, j+n) with
    // j > p overlap or touch iff j <= p + n, so a new island starts
    // when the gap exceeds n (or at the first window)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("j"))
    val prev = lag(col("j"), 1).over(byDoc)
    hits
      .withColumn("__new_island",
        when(prev.isNull || col("j") - prev > n, 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__new_island")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(
        min(col("j")).cast(IntegerType).as("span_start"),
        (max(col("j")) + n).cast(IntegerType).as("span_end"),
        count(lit(1)).as("n_dup_windows"))
      .drop("__island")
  }

  /** The cut step that completes [[duplicatePassageSpans]]'s detection:
    * rewrite every document with its duplicated spans deleted (what a
    * passage-level dedup pass actually does to the corpus — Lee et al.
    * 2021 remove one occurrence of each duplicated substring; deleting
    * EVERY flagged span is the conservative variant that also kills
    * boilerplate present in all copies). Output is one row per input
    * document: `(id, clean_text, n_kept_tokens, n_removed_tokens)`
    * where `clean_text` is the surviving tokens joined by single
    * spaces — the rewrite normalizes whitespace as a side effect, the
    * same canonical form every windowing kernel here already uses, so
    * the transform is deterministic and oracle-replayable.
    *
    * Scale shape: detection is [[duplicatePassageSpans]]'s one
    * corpus-wide shuffle; the spans collapse to a per-document list
    * (bounded by tokens/(n+1) — spans are disjoint by construction,
    * islands merge at gap ≤ n) that equi-joins back on the id, and the
    * cut itself is a per-row projection (token index ∉ any span) whose
    * cost is tokens × spans per document — never a corpus-wide
    * operation. The corpus frame is touched by exactly one join.
    */
  def cutDuplicatePassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8
  ): DataFrame =
    cutDuplicatePassages(df, idCol, textCol,
      duplicatePassageSpans(df, idCol, textCol, n), n)

  /** [[cutDuplicatePassages]] over a PRECOMPUTED span frame (the
    * [[duplicatePassageSpans]] output, possibly persisted): detection
    * is the corpus-wide pass, so a pipeline that both reports and cuts
    * spans computes them once and feeds this overload — the shared-
    * artifact shape the pair-graph family uses. The span frame must
    * cover the same `idCol` domain as `df` (absent ids keep their text
    * uncut, the same semantics as a doc with no duplicated window).
    */
  def cutDuplicatePassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanFrame: DataFrame,
      n: Int
  ): DataFrame = {
    val reserved = Set("__spans", "__toks", "__kept")
    require(!df.columns.exists(reserved),
      s"input already has a column reserved by cutDuplicatePassages (${reserved.mkString(", ")})")
    val spans = spanFrame
      .groupBy(col(idCol))
      .agg(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e"))).as("__spans"))
    val toks = filter(
      graft.operators.TextAnalysis.tokens(col(textCol)), t => t =!= lit(""))
    // docs with no duplicated span skip the exists-scan entirely; for
    // the rest, keep tokens whose index lies outside every span — the
    // span list is tiny (disjoint islands), so the nested exists is a
    // short per-token loop, not a join. The kept array is bound to a
    // named column FIRST so the filter evaluates once per row
    // (CollapseProject will not inline a non-cheap expression into
    // three consumers).
    val kept = when(col("__spans").isNull, col("__toks")).otherwise(
      filter(col("__toks"), (t, i) =>
        !exists(col("__spans"), sp => i >= sp("s") && i < sp("e"))))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__toks", toks)
      .withColumn("__kept", kept)
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__kept")).cast(IntegerType).as("n_kept_tokens"),
        (size(col("__toks")) - size(col("__kept")))
          .cast(IntegerType).as("n_removed_tokens"))
  }

  /** Cross-attribute overlap matrix over a near-dup pair frame: how
    * many near-duplicate pairs connect each unordered attribute pair
    * (source×source for cross-crawl contamination audits, lang×lang
    * for translation-dup screens, split×split for leakage checks).
    * `pairs` is any (aCol, bCol) id-pair frame — [[ngramJaccardNearDups]]
    * output or the shared pair graph; returns (attr_a, attr_b,
    * n_pairs) with attr_a <= attr_b (the diagonal counts within-
    * attribute pairs).
    *
    * Scale shape: the pair frame is ∝ the near-dup pair count
    * (structurally ≪ corpus), so BOTH attribute-resolution joins
    * broadcast the pair side — the corpus-sized `docs` frame streams
    * through map-side joins and never shuffles; the final agg is
    * |attr|²-bounded.
    */
  def pairAttributeOverlap(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      attrCol: String,
      aCol: String = "id_a",
      bCol: String = "id_b"
  ): DataFrame = {
    val attrs = docs.select(col(idCol), col(attrCol))
    val resolvedA = broadcast(pairs.select(col(aCol), col(bCol)))
      .join(attrs.select(col(idCol).as(aCol), col(attrCol).as("__attr_a")), aCol)
    val resolved = broadcast(resolvedA)
      .join(attrs.select(col(idCol).as(bCol), col(attrCol).as("__attr_b")), bCol)
    resolved
      .select(
        least(col("__attr_a"), col("__attr_b")).as("attr_a"),
        greatest(col("__attr_a"), col("__attr_b")).as("attr_b"))
      .groupBy(col("attr_a"), col("attr_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Blocked edit-distance matching — the entity-resolution primitive
    * (typo'd names, OCR'd part numbers, re-keyed records): candidate
    * pairs come from equality on a cheap blocking key, survivors from
    * `levenshtein ≤ maxDist` — the classic MDM blocking+verify shape,
    * here for SHORT strings (names, codes, titles) where shingle
    * Jaccard has nothing to work with. Output: `id_a` < `id_b`,
    * `dist`.
    *
    * Scale shape: ONE shuffle on the block key feeds a within-block
    * self-join, so verify cost is Σ|block|² — bounded because blocks
    * over `maxBlock` rows are EXCLUDED up front (counted via one
    * |blocks|-row aggregate; the cap is the same hot-bucket contract
    * as the MinHash `maxPostings`). Recall caveat, stated not hidden:
    * an edit INSIDE the blocking key escapes its block — production
    * runs multiple blocking passes with different keys (prefix,
    * suffix, phonetic) and unions the pairs; this operator is one
    * such pass.
    */
  def editDistancePairs(
      df: DataFrame, idCol: String, strCol: String, blockKey: Column,
      maxDist: Int, maxBlock: Int = 1000
  ): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val b = df
      .select(col(idCol).as("__id"), col(strCol).as("__s"), blockKey.as("__blk"))
      .filter(col("__s").isNotNull && col("__blk").isNotNull)
    val sizes = b.groupBy(col("__blk")).agg(count(lit(1)).as("__cnt"))
    val bounded = b.join(sizes.filter(col("__cnt") <= maxBlock), "__blk")
    val l = bounded.select(col("__blk"), col("__id").as("id_a"), col("__s").as("__sa"))
    val r = bounded.select(col("__blk"), col("__id").as("id_b"), col("__s").as("__sb"))
    l.join(r, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      // a pair whose lengths differ by more than maxDist cannot pass —
      // prune with a codegen'd length compare before any DP runs
      .filter(abs(length(col("__sa")) - length(col("__sb"))) <= maxDist)
      // project the distance BEFORE filtering on it so the dynamic-
      // programming kernel runs once per pair, not once in the filter
      // and again in the output projection. The threshold'd kernel is
      // banded O(len·maxDist) instead of O(len²) and returns -1 when
      // the distance exceeds maxDist — the between() keeps exactly the
      // same pairs (and identical dist values) as the unbounded kernel.
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb"), maxDist).as("dist"))
      .filter(col("dist").between(0, maxDist))
  }
}
