package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Parallelism.widen

/** Vector similarity search over embedding columns (`array<float>`).
  *
  * Beyond-parity operator (the reference has no vector support); part of
  * the training-data-pipeline surface. Two paths:
  *
  *  - [[bruteForceTopK]] — exact cosine top-k: one full scan, partial
  *    top-k per partition (TakeOrderedAndProject), no shuffle of the
  *    corpus. The right baseline at any scale when k is small.
  *  - [[lshTopK]] — random-hyperplane LSH: corpus is bucketed once
  *    (deterministic hyperplanes), queries probe matching buckets via a
  *    bucket-key join, exact cosine re-ranks within candidates. At 100 TB
  *    the bucketed corpus is written partitioned by bucket so a query
  *    touches only its buckets' files (partition pruning).
  *
  * All vector math is codegen'd higher-order functions (`zip_with` +
  * `aggregate`) over `array<double>` — no UDF, no per-row JVM boxing
  * beyond the array itself.
  */
object Similarity {

  /** Dot product of two equal-length numeric arrays (double out).
    * Native kernel expression — a fused JVM loop inside whole-stage
    * codegen, not an interpreted `zip_with`+`aggregate` chain.
    */
  def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalized copy of a vector (null-safe for zero vectors). */
  def normalize(a: Column): Column = {
    val n = norm(a)
    when(n === 0.0, transform(a, _ => lit(0.0)))
      .otherwise(transform(a, x => x.cast(DoubleType) / n))
  }

  /** Cosine similarity of two vectors (one-pass kernel; 0.0 on zero norm). */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine(a, b)

  /** Hyperplane count that keeps the MEAN LSH bucket occupancy at or
    * under `targetBucket` for an `n`-vector corpus: the scaladoc
    * prescription `planes ≈ log₂(n / targetBucket)` made executable —
    * `max(floor, ⌈log₂⌈n / targetBucket⌉⌉)`, in pure integer
    * arithmetic (no float log), so the choice is bit-deterministic on
    * every platform.
    *
    * This is what makes the banded-LSH families SCALE-INVARIANT in
    * shape: with a FIXED plane count the bucket count is a constant,
    * mean occupancy grows ∝ n, and the candidate volume Σ|B|²/2 grows
    * ∝ n² — the r13 10× scale probe measured exactly that (79× at 10×
    * data for the fixed-plane kNN graph). With planes from this
    * function, bucket count grows ∝ n, occupancy stays ~targetBucket,
    * and candidates stay ∝ n·targetBucket — linear.
    *
    * The floor pins behavior at small corpora: every corpus up to
    * 2^floor · targetBucket vectors gets exactly `floor` planes (for
    * `floor = 6, targetBucket = 32` that is 2^6·32 = 2048 vectors), so
    * the committed corpus-keyed goldens at the test SFs (≤ 2000
    * vectors) are unchanged by adaptivity.
    *
    * Recall trade: each extra plane multiplies per-band collision
    * probability by p (= 1 − θ/π for angle θ), so recall at a grown
    * plane count is held by growing `tables` (miss probability
    * (1 − p^planes)^tables). Callers that scale planes without scaling
    * tables trade recall for the bounded candidate volume — the
    * standing [[recallAtK]] audit quantifies what that costs.
    */
  def adaptivePlanes(n: Long, targetBucket: Int, floor: Int): Int = {
    require(targetBucket > 0, s"targetBucket must be positive, got $targetBucket")
    require(floor > 0 && floor <= 62, s"floor out of range: $floor")
    val buckets = math.max(1L, (n + targetBucket - 1) / targetBucket)
    val ceilLog2 =
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(62, math.max(floor, ceilLog2))
  }

  /** Symmetric int8 scalar quantization — the standard 4× compression
    * for embedding stores feeding ANN search. Returns a struct
    * (`max_abs`, `q`): `q(i) = floor(x(i) * 127 / max|x|)` ∈
    * [-127, 127], all-zero for a zero vector. floor, NOT round: both
    * engines' round() tie-breaks differ (see Verify discipline), while
    * floor on exact IEEE doubles is bit-deterministic everywhere —
    * the ≤ half-ulp asymmetry is irrelevant to retrieval quality.
    * Dequantize as `q * max_abs / 127`; reconstruction error is
    * bounded by one quantization step (`max_abs / 127`) per element.
    */
  def int8Quantize(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast(DoubleType))))
    val q = when(mx === 0.0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, x => floor(x.cast(DoubleType) * lit(127.0) / mx)))
    struct(mx.as("max_abs"), q.as("q"))
  }

  /** Pass-through of `vec` that RAISES when a non-empty vector's
    * length differs from `dim` — the append-increment dim guard of the
    * persisted-index families ([[Pq]]/[[Ivf]] append modes), evaluated
    * INSIDE the encode projection instead of a separate min/max
    * aggregate: the aggregate form paid one full extra scan of the
    * corpus-proportional embedding column per append (guide §1.2 —
    * don't compute a pass you can fold into one you already make).
    * Null/empty vectors pass through unchanged (the old aggregate's
    * `d > 0` filter ignored them too). A mismatch now surfaces as a
    * task-level raise inside the append job — the same fail-loudly
    * contract, and nothing commits: the write job aborts before its
    * committer finalizes, so no partial increment becomes visible.
    */
  private[operators] def requireDim(vec: Column, dim: Int, context: String): Column =
    when(size(vec) > 0 && size(vec) =!= dim,
      raise_error(concat(
        lit("increment embedding dim "), size(vec).cast("string"),
        lit(s" != index dim $dim $context — codes would route through " +
          "a mismatched quantizer"))))
      .otherwise(vec)

  /** Exact top-k by INT8-QUANTIZED inner product for many queries —
    * the serving scan of a compressed embedding store
    * ([[int8Quantize]] is the 4× compression step). Scores are
    * Σ q_c[i]·q_q[i] in exact 64-bit integers, so the ranking
    * (int_dot desc, id asc) is bit-deterministic across engines: the
    * one ANN scoring path that needs NO replay goldens — the DuckDB
    * oracle recomputes the codes and the integer dot directly. Note
    * the score is the quantized DOT, not cosine (codes are per-vector
    * scaled by max_abs/127); [[recallAtK]] against a float
    * inner-product [[batchTopK]]-shaped exact pass quantifies what
    * the compression costs (`x_int8_recall`).
    *
    * Plan shape: one corpus scan projecting codes through the fused
    * quantize transform, queries broadcast, the integer-dot kernel per
    * pair, per-query partial WindowGroupLimit — the batchTopK idiom.
    */
  def int8TopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int
  ): DataFrame = {
    val scored = corpus
      .select(col(idCol).as("id"), int8Quantize(col(vecCol)).getField("q").as("cq"))
      .crossJoin(broadcast(queries.select(col(qidCol).as("query_id"),
        int8Quantize(col(qvecCol)).getField("q").as("qq"))))
      .select(col("query_id"), col("id"),
        graft.functions.VectorFunctions.dotLong(col("cq"), col("qq")).as("int_dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("int_dot").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** BINARY quantization — the bottom rung of the embedding
    * compression ladder (float32 → int8 4× → PQ 32× → sign bits: 1
    * bit/dim, 32× on dim-64 with byte-for-byte parity to m=8 PQ codes
    * but a popcount-only scoring kernel). Bit `j` of word `w` is set
    * iff element `w*32 + j` is STRICTLY positive — the axis-aligned
    * SimHash: ranking by Hamming distance approximates ranking by
    * angle, and the codes are scale-invariant by construction. Words
    * are 32-bit (in longs) so the packing fold never exceeds 2^32 —
    * re-derivable in checked-arithmetic SQL engines with no replay
    * goldens ([[graft.functions.Kernels.signWords]]).
    */
  def binaryQuantize(vec: Column): Column =
    graft.functions.VectorFunctions.signWords(vec)

  /** Top-k by Hamming distance over BINARY-quantized codes for many
    * queries — the serving scan of a 1-bit/dim embedding store
    * ([[binaryQuantize]] is the compression step). Distances are exact
    * integers (Σ popcount(xor)), so the ranking (hamming ASC, id ASC)
    * is bit-deterministic across engines: like [[int8TopK]] it needs
    * NO replay goldens. Heavy score ties are inherent (distance range
    * is 0..dim) — the id tie-break carries more weight than in the
    * integer-dot families, which is part of what [[recallAtK]] against
    * the exact cosine pass measures (`x_bq_recall`): quantization loss
    * PLUS tie-resolution arbitrariness, the honest cost of 1-bit
    * serving.
    *
    * Plan shape: one corpus scan projecting sign words through the
    * fused kernel, queries broadcast, the popcount kernel per pair,
    * per-query partial WindowGroupLimit — the [[batchTopK]] idiom with
    * an 8-byte corpus payload.
    */
  def binaryTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val scored = corpus
      .select(col(idCol).as("id"), binaryQuantize(col(vecCol)).as("cw"))
      .crossJoin(broadcast(queries.select(col(qidCol).as("query_id"),
        binaryQuantize(col(qvecCol)).as("qw"))))
      .select(col("query_id"), col("id"),
        graft.functions.VectorFunctions.hammingLong(col("cw"), col("qw"))
          .as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Second-stage RERANK by exact int8 integer dot over a candidate
    * pair set — the rescoring half of every two-stage serving split
    * (coarse shortlist from binary/prefix/IVF codes, then rescore the
    * shortlist at full precision): `candidates` is (query_id, id)
    * from any first stage, and the output is the per-query top `k` of
    * the candidate set by the [[int8TopK]] score (int_dot DESC, id
    * ASC — same column, same tie rule, so rerank over the FULL pair
    * set equals int8TopK exactly, the SimilaritySpec identity).
    * Candidate pairs must be DISTINCT — a duplicated (query_id, id)
    * row would score twice and inflate ranks below it; every
    * first-stage top-k frame satisfies this by construction.
    *
    * Plan shape: the candidate set broadcasts INTO the code
    * projection's scan-side hash join (candidate-bounded — queries×k₀
    * rows, never the corpus), query codes broadcast, one integer-dot
    * kernel per surviving pair, partial WindowGroupLimit per query.
    * At 100 TB this is the shape that touches full-precision codes
    * for shortlisted ids ONLY — the raw floats never leave the store.
    */
  def int8RerankTopK(
      candidates: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val scored = corpus
      .select(col(idCol).as("id"), int8Quantize(col(vecCol)).getField("q").as("cq"))
      .join(broadcast(candidates.select(col("query_id"), col("id"))), Seq("id"))
      .join(broadcast(queries.select(col(qidCol).as("query_id"),
        int8Quantize(col(qvecCol)).getField("q").as("qq"))), Seq("query_id"))
      .select(col("query_id"), col("id"),
        graft.functions.VectorFunctions.dotLong(col("cq"), col("qq")).as("int_dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("int_dot").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k by cosine against one literal query vector.
    * Plan: scan → project(cosine) → TakeOrderedAndProject(k) — per-
    * partition heaps then a single k-row reduce; nothing shuffles.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int
  ): DataFrame = {
    val qLit = array(query.map(lit): _*)
    corpus
      .select(col(idCol), cosine(col(vecCol), qLit).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact top-k for MANY queries at once: broadcast the (small) query
    * set against the corpus, window row_number per query. One corpus
    * scan regardless of query count. The `row_number <= k` filter is
    * rewritten by Catalyst into a PARTIAL WindowGroupLimit ahead of the
    * exchange (guarded by a PlanSpec test), so each map task reduces to
    * <= k rows per query before shuffling — the shuffle carries
    * O(queries × k × partitions), never the corpus, and no single
    * reducer sorts a whole query partition.
    */
  def batchTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int
  ): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(
        col(qidCol).as("query_id"),
        col(idCol).as("id"),
        cosine(col(vecCol), col(qvecCol)).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k audit — the eval loop every ANN deployment runs before
    * trusting an index: per query, how many of the EXACT top-k the
    * approximate result recovered. Both inputs are (queryCol, idCol,
    * …) top-k frames (e.g. [[Ivf.ivfTopK]] vs [[batchTopK]]); output
    * is queryCol, `n_hits`, `k` — integers only (consumers divide at
    * whatever precision they want; the frame stays hash-exact), with
    * `k` taken per query from the exact frame so truncated result
    * lists are visible rather than silently renormalized. Queries with
    * zero overlap keep explicit 0 rows.
    *
    * Plan shape: ONE left equi-join on (query, id) + one
    * |queries|-bounded agg — both inputs are already ≤ |queries|·k
    * rows, so every step is candidate-bounded; nothing rescans the
    * corpus. The exact frame is referenced exactly ONCE: the earlier
    * two-reference form (hits join + a separate per-query k count)
    * pushed different IsNotNull sets below the two references, which
    * defeated AQE stage reuse and re-evaluated the exact subtree —
    * typically a corpus-sized brute-force leg — twice per consumer
    * (r18 plan audit of x_ann_refresh_gain: six union-sized scans per
    * rep where two distinct exact frames existed). Both input frames
    * are top-k results, unique per (query, id) by construction, so
    * counting exact rows after the left join is exactly the old k.
    * The join strategy is left to the planner: both sides are
    * ≤ |queries|·k rows, so the SMJ it picks shuffles a few hundred
    * rows — an explicit broadcast hint measured as a wash at sf0.1
    * (8.00 vs 7.92 s over the 8 recall consumers, r18 A/B) while
    * serializing the ann subtree behind a broadcast build, so it was
    * deliberately NOT added.
    */
  def recallAtK(
      ann: DataFrame, exact: DataFrame,
      queryCol: String = "query_id", idCol: String = "id"
  ): DataFrame =
    exact.select(col(queryCol), col(idCol))
      .join(ann.select(col(queryCol), col(idCol), lit(1L).as("__hit")),
        Seq(queryCol, idCol), "left")
      .groupBy(col(queryCol))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
      .select(col(queryCol), col("n_hits"), col("k"))

  /** [[recallAtK]] for SEVERAL approximate legs audited against ONE
    * shared exact frame — the refresh audits and tuning sweeps
    * (x_ann_probe_sweep, x_refresh_adaptive, x_ann_refresh_gain)
    * previously called recallAtK once per leg, which referenced the
    * exact subtree once PER LEG in the union plan; Catalyst does not
    * reuse it across the references (each union arm pushes different
    * predicate sets below its copy), so the exact brute-force leg —
    * the one corpus-proportional subtree in an audit — ran N times
    * per execution. Here the exact frame is referenced ONCE: its rows
    * are exploded across the N tag literals, the tagged union of ann
    * legs is broadcast (≤ N·|queries|·k rows by the top-k contract),
    * and one left join + (tag, query) aggregate yields exactly the
    * rows `legs.map(recallAtK).union` would. Tag values must be
    * same-typed literals (they become one column) and PAIRWISE
    * DISTINCT: two legs under one tag value would collapse into one
    * (tag, query) group after the explode — doubled k, summed n_hits —
    * instead of the two row sets the per-leg form emits; the require
    * below turns that silent merge into a loud caller error. The
    * broadcast hint on the tagged union relies on every leg honoring
    * the ≤ |queries|·k top-k contract (all current callers pass
    * rank-truncated probe results); an untruncated leg would grow the
    * broadcast relation with the corpus and hit the 8 GB relation cap
    * at scale — pass top-k frames only, exactly as [[recallAtK]]'s
    * planner-chosen join assumes.
    */
  def recallAtKTagged(
      legs: Seq[(Column, DataFrame)], exact: DataFrame,
      tagCol: String,
      queryCol: String = "query_id", idCol: String = "id"
  ): DataFrame = {
    require(legs.nonEmpty, "recallAtKTagged needs at least one leg")
    val tagExprs = legs.map(_._1.toString)
    require(tagExprs.distinct.size == tagExprs.size,
      "recallAtKTagged tags must be pairwise distinct — duplicate tags " +
        s"would silently merge their legs' rows: ${tagExprs.mkString(", ")}")
    val tagged = legs.map { case (tag, df) =>
      df.select(tag.as(tagCol), col(queryCol), col(idCol),
        lit(1L).as("__hit"))
    }.reduce(_ unionAll _)
    exact.select(col(queryCol), col(idCol))
      .withColumn(tagCol, explode(array(legs.map(_._1): _*)))
      .join(broadcast(tagged), Seq(tagCol, queryCol, idCol), "left")
      .groupBy(col(tagCol), col(queryCol))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
      .select(col(tagCol), col(queryCol), col("n_hits"), col("k"))
  }

  /** The "sampled slices at scale" audit convention as CODE — the
    * exact side of every recall audit ([[recallAtK]]'s ground truth),
    * with the query set capped at `maxQueries` rows picked
    * DETERMINISTICALLY (ascending `(xxhash64(qid), qid)`, the repo's
    * hash-order sampling idiom: reproducible across runs and engines,
    * unbiased w.r.t. any corpus ordering). At the test SFs every audit
    * passes a cap at or above its query count, so the sample is the
    * identity and results are bit-identical to the uncapped form; at
    * 100 TB the SAME call is the declared scale route — the exact
    * brute-force leg runs on maxQueries hash-picked queries instead of
    * the corpus, bounding the audit at maxQueries × |corpus| scored
    * pairs (one corpus scan; the sampled query batch broadcasts).
    *
    * `metric` picks the scoring kernel and the score column name:
    * `"cosine"` (column `cosine`; zero-norm vectors are excluded on
    * BOTH sides — no defined direction, the [[knnGraph]] contract) or
    * `"dot"` (column `ip`, the MIPS objective of the int8 audits; zero
    * vectors are legitimate and kept). `excludeSelf` drops id == qid
    * pairs for corpus-as-queries graph audits. Returns (query_id, id,
    * <score>, rank), ties by id; plan shape is the [[batchTopK]] idiom
    * (query pick is one TakeOrdered bounded at maxQueries rows, then
    * broadcast + partial WindowGroupLimit per query).
    */
  def exactTopKSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, maxQueries: Int,
      metric: String = "cosine",
      excludeSelf: Boolean = false,
      widenCorpus: Boolean = false
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxQueries >= 1, s"maxQueries must be >= 1, got $maxQueries")
    val (scoreName, scoreFn) = metric match {
      case "cosine" => ("cosine", (a: Column, b: Column) => cosine(a, b))
      case "dot" => ("ip", (a: Column, b: Column) => dot(a, b))
      case other => throw new IllegalArgumentException(
        s"metric must be 'cosine' or 'dot', got '$other'")
    }
    def keepRanked(df: DataFrame, c: String): DataFrame =
      if (metric == "cosine") df.filter(dot(col(c), col(c)) > 0.0) else df
    val q = keepRanked(queries, qvecCol)
      .select(col(qidCol).as("query_id"), col(qvecCol).as("__qv"))
      .orderBy(xxhash64(col("query_id")), col("query_id"))
      .limit(maxQueries)
    // widen the expansion side: the |corpus|×|q| kernel must not
    // inherit a small file's one-task layout (see [[Parallelism.widen]])
    // widenCorpus is the CALLER's call (unlike knnGraph/batchTopK,
    // where queries are corpus-sized by shape): the audits here cap
    // queries far below the corpus — often ≤ 20 rows — and for such
    // skinny expansions the widening exchange costs more than the
    // extra parallelism buys (measured r19: x_ann_refresh_gain at
    // sfx10 3.99 s unwidened vs 5.71 widened), while a query-DENSE
    // caller (the exact kNN ground-truth graph: corpus as queries,
    // 4M+ kernel pairs in one scan task) wins 8× from it. Pass true
    // when |queries| approaches the cap; the shuffle is skipped at
    // scale either way (see [[Parallelism.widen]]).
    val base = keepRanked(corpus, vecCol)
    val paired = (if (widenCorpus) widen(base) else base).crossJoin(broadcast(q))
    val scored =
      (if (excludeSelf) paired.filter(col(idCol) =!= col("query_id")) else paired)
        .select(col("query_id"), col(idCol).as("id"),
          scoreFn(col(vecCol), col("__qv")).as(scoreName))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreName).desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact k-nearest-neighbor GRAPH over one embedding frame: for every
    * vector, its `k` most cosine-similar OTHER vectors — the precursor
    * artifact of semantic dedup, graph clustering, and diversity
    * sampling (SemDeDup-style pipelines consume exactly this shape).
    * Zero-norm vectors have no defined direction and are excluded on
    * BOTH sides up front (the native kernel guards 0/0 to 0.0 while a
    * SQL engine yields NaN — the explicit norm filter keeps the
    * operator's contract engine-independent): a zero vector neither
    * ranks nor is ranked. Returns (query_id, id, cosine, rank), ties
    * broken by id.
    *
    * Scale shape: the corpus broadcasts once as the query side and the
    * n² scored pairs shuffle ONCE on query_id into per-key k-row heaps
    * (`WindowGroupLimit` pushes the rank filter into the sort) — the
    * honest brute-force cost, correct for bounded corpora and
    * ground-truth generation. At 100 TB route candidate generation
    * through [[lshTopK]]'s banding or [[Ivf]] cells (same re-rank
    * shape over a candidate set instead of n²); this exact graph is
    * their recall oracle.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val nonZero = df.filter(dot(col(vecCol), col(vecCol)) > 0.0)
    val q = nonZero.select(col(idCol).as("__qid"), col(vecCol).as("__qv"))
    // corpus-as-queries: every row expands |corpus|-fold in its scan task
    val scored = widen(nonZero).crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("__qid"))
      .select(col("__qid").as("query_id"), col(idCol).as("id"),
        cosine(col(vecCol), col("__qv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** PRODUCTION kNN graph — the scale path [[knnGraph]] is the recall
    * oracle for: approximate per-vector top-k via hyperplane-LSH
    * candidate generation instead of all n² pairs. The corpus is
    * banded ONCE under `tables` independent `planes`-bit hyperplane
    * sets (the same deterministic [[signBucket]] family the ANN and
    * embedding-dedup entries use); vectors sharing any (band, bucket)
    * become candidates through the capped-collect bucket expansion
    * ([[Dedup.candidatePairs]] — a viral near-duplicate bucket never
    * materializes more than `maxBucket` ids in any reducer, with the
    * overflow observed under `metric`); each surviving UNDIRECTED pair
    * is exact-cosine-scored once (cosine is exactly symmetric — the
    * kernel's sqrt-then-multiply denominator and commutative dot make
    * (a,b) and (b,a) bit-identical), mirrored into both directions,
    * and cut to per-query k-row heaps (`row_number <= k` rewrites to a
    * partial WindowGroupLimit ahead of the exchange). Zero-norm
    * vectors are excluded on both sides, same contract as [[knnGraph]].
    *
    * Cost is candidate-proportional: |pairs| ≈ Σ_buckets |B|²/2
    * bounded by `maxBucket`, NEVER n². The plane count GROWS WITH THE
    * CORPUS via [[adaptivePlanes]] (one metadata-cheap count, then
    * planes_eff = max(planes, ⌈log₂⌈n/targetBucket⌉⌉)) so mean bucket
    * occupancy — and with it the candidate volume per vector — stays
    * ~targetBucket at ANY corpus size; with the former FIXED plane
    * count the r13 10× probe measured 79× cost at 10× data (bucket
    * count constant → occupancy ∝ n → Σ|B|² ∝ n²), adaptively
    * re-measured linear. `planes` acts as the floor, which pins
    * behavior (and the committed goldens) at the test SFs: n ≤ 2048
    * keeps planes_eff = 6. `tables` buys recall linearly in cost —
    * missing a true neighbor requires ALL `tables` buckets to
    * disagree: recall per neighbor at angular similarity p =
    * 1 − (1 − p^planes)^tables, so a deployment that lets planes grow
    * should grow tables alongside to hold recall. The exact
    * [[knnGraph]] on a sampled slice is the standing recall audit
    * ([[recallAtK]]).
    *
    * Returns (query_id, id, cosine, rank) for every query with ≥ 1
    * candidate; isolated vectors (no collisions in any table) emit no
    * rows — visible as missing query_ids against the corpus, and as
    * `n_hits = 0` rows in a [[recallAtK]] audit.
    */
  def knnGraphApprox(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      planes: Int = 6, tables: Int = 8, maxBucket: Int = 1000,
      targetBucket: Int = 32,
      metricName: Option[String] = None
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val metric = metricName.getOrElse(s"graft_knn_graph_buckets_${idCol}_$vecCol")
    val base = df.filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    // raw input count, NOT base.count(): sizing needs only an upper
    // bound on n, and df.count() folds to a parquet metadata count
    // while counting the zero-norm-filtered projection would evaluate
    // the dot kernel over the whole corpus — an extra corpus pass.
    val planesEff = adaptivePlanes(df.count(), targetBucket, floor = planes)
    val banded = base.select(col("id"), posexplode(
        graft.functions.VectorFunctions.signBuckets(
          col("v"), planesEff, tables, baseSeed = 17L)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val undirected = Dedup.candidatePairs(banded, maxBucket, metric)
    val scored = Dedup.verifyPairs(undirected,
      base.select(col("id"), col("v").as("payload")),
      cosine(col("payload_a"), col("payload_b")).as("cosine"))
    // mirror each undirected pair via a 2-element explode, NOT a union
    // of two projections of `scored` — Catalyst plans union branches
    // as separate subtrees, so the union form evaluated the whole
    // candidate+verify pipeline twice (PlanDump: 6 corpus scans, the
    // banding kernel run twice, zero exchange reuse)
    val directed = scored
      .select(explode(array(
        struct(col("id_a").as("query_id"), col("id_b").as("id"), col("cosine")),
        struct(col("id_b").as("query_id"), col("id_a").as("id"), col("cosine"))))
        .as("e"))
      .select(col("e.query_id").as("query_id"), col("e.id").as("id"),
        col("e.cosine").as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    directed.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Sign-bucket of a vector under `planes` hash-derived hyperplanes:
    * bit p is set iff dot(v, hyperplane_p) >= 0. Deterministic across
    * executors and jobs (no RNG state), and scale-invariant, so the
    * corpus can be bucketed once on raw vectors and reused.
    */
  def signBucket(vec: Column, planes: Int, seed: Int): Column =
    VectorFunctions.signBucket(vec, planes, seed.toLong)

  /** LSH-bucketed ANN top-k: corpus bucketed under `tables` independent
    * hyperplane sets; each query probes its own bucket in every table;
    * union of candidates is exactly re-ranked. Join is on (table, bucket)
    * keys — ONE shuffle of the (much smaller) candidate set; the corpus
    * bucketing itself is a narrow projection.
    */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, planes: Int = 10, tables: Int = 6
  ): DataFrame = {
    // one fused kernel call emits every table's bucket; posexplode
    // yields (band = table index, bucket)
    def banded(df: DataFrame, vc: String, keep: Seq[Column]): DataFrame =
      df.select(keep :+ posexplode(
        VectorFunctions.signBuckets(col(vc), planes, tables, baseSeed = 17L)
      ): _*).withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    val corpusB = banded(corpus, vecCol,
      Seq(col(idCol).as("id"), col(vecCol).as("v")))
    val queriesB = banded(queries, qvecCol,
      Seq(col(qidCol).as("query_id"), col(qvecCol).as("qv")))

    val candidates = corpusB
      .join(broadcast(queriesB), Seq("band", "bucket"))
      .dropDuplicates("query_id", "id")
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("cosine"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** One-hop majority-vote label propagation over a kNN graph — the
    * standard semi-supervised labeling step (Zhu & Ghahramani 2002's
    * one-iteration special case): each query vertex takes the most
    * common label among its graph neighbors, ties broken by the
    * SMALLEST label (deterministic, so the output is hash-exact given
    * an exact graph). Used to extend a small labeled seed set across
    * an embedding corpus, and — run against vertices whose labels are
    * KNOWN — as the kNN-classifier consistency audit (agreement rate =
    * leave-one-out kNN accuracy, since [[knnGraphApprox]] never emits
    * self-edges).
    *
    * Plan shape: both inputs are vertex/edge-bounded (the graph is
    * ≤ |queries|·k rows); one equi-join on the neighbor id, one
    * (query, label) agg, one max-struct per query — no window, no
    * corpus rescan. The max-struct tie-break compares (count, −label)
    * field-by-field, so the winner is max-count-then-min-label in a
    * single agg.
    *
    * Returns (queryCol, label_pred, n_votes), both outputs LongType.
    */
  def propagateLabels(
      graph: DataFrame, labels: DataFrame,
      queryCol: String = "query_id", idCol: String = "id",
      labelCol: String = "label"
  ): DataFrame =
    graph.select(col(queryCol), col(idCol))
      .join(labels.select(col(idCol), col(labelCol).cast(LongType).as("__l")),
        idCol)
      .groupBy(col(queryCol), col("__l"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(queryCol))
      .agg(max(struct(col("__n"), (-col("__l")).as("__negl"))).as("__w"))
      .select(col(queryCol),
        (-col("__w.__negl")).as("label_pred"),
        col("__w.__n").as("n_votes"))
}
