package graft.operators

import graft.sources.IndexManifest
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import Parallelism.widen

/** Product quantization (PQ) — the third rung of the embedding
  * compression ladder (float32 → int8 → PQ codes) and the standard
  * billion-vector serving representation (IVF-PQ is the FAISS
  * workhorse; Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011).
  *
  * The vector is split into `m` contiguous subvectors; each subspace
  * gets its own `ncode`-entry codebook, and a vector is stored as its
  * m nearest-codeword indices — m bytes at ncode=256, a 32×
  * compression of a dim-64 float32 embedding (vs int8's 4×). Queries
  * score documents WITHOUT decompressing: one m×ncode table of
  * query-subvector × codeword dots per query (ADC — asymmetric
  * distance computation), then a document's score is m table lookups
  * summed.
  *
  * DETERMINISM (what makes this family DuckDB-oracle-exact, unlike
  * classic k-means-trained PQ): codewords are the int8-quantized
  * subvectors of the `ncode` corpus vectors with the smallest
  * `(Sampling.hashRank(id), id)` — the repo's hash-order sampling
  * idiom (the [[Ivf]] coarse-quantizer trick, per subspace). Encoding
  * minimizes the exact INTEGER squared L2 distance between int8
  * subvectors (ties → smallest codeword index), and ADC scores are
  * exact 64-bit integer sums of int8 dots — no float accumulates
  * anywhere past the per-element quantization floor, so codebook,
  * codes, and ranking are all bit-replayable in any engine.
  * Overflow audit: |q|≤127 ⇒ a squared-diff term ≤ 254², a sub-dot
  * ≤ 127²·(dim/m), a score ≤ 127²·dim < 2^21 — BIGINT everywhere.
  *
  * Scale shape (100 TB): the codebook is m×ncode rows (2048 at the
  * defaults) — a plan constant, shipped to the kernels as a flat array.
  * Encoding is one corpus scan with a per-row m×ncode argmin (the
  * inherent O(n·m·ncode) PQ encode cost) in one fused kernel, so it
  * shuffles nothing. Serving scans CODES ONLY (m bytes/vector);
  * per-query LUTs are ncode·m longs built in-row from that array, and
  * the score fold is an in-row kernel over m lookups — the int8TopK
  * plan shape with 8× narrower corpus payload.
  */
object Pq {

  /** Deterministic PQ codebook: (subspace, code, cw) where `cw` is the
    * int8-quantized subvector (length dim/m, BIGINT elements) of the
    * `code`-th hash-sampled corpus vector. Every sampled vector
    * contributes one codeword to EVERY subspace, so the (subspace,
    * code) grid is complete — the flat-LUT indexing in [[pqTopK]]
    * relies on that. If the corpus has fewer than `ncode` vectors the
    * codebook holds all of them (codes stay dense 0..n-1).
    */
  def pqCodebook(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ncode: Int
  ): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ncode >= 1, s"ncode must be >= 1, got $ncode")
    val sampled = corpus
      .select(col(idCol).as("__id"),
        Similarity.int8Quantize(col(vecCol)).getField("q").as("__q"))
      .orderBy(Sampling.hashRank(col("__id")), col("__id"))
      .limit(ncode) // TakeOrderedAndProject — no global sort
      // the unpartitioned window runs AFTER the limit, on ≤ ncode rows
      // — plan-constant-bounded, never data-proportional
      .withColumn("code",
        (row_number().over(Window.orderBy(
          Sampling.hashRank(col("__id")), col("__id"))) - 1).cast(IntegerType))
    val sub = floor(size(col("__q")) / lit(m)).cast(IntegerType)
    sampled
      .select(col("code"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("__q"), j * sub + 1, sub))))
      .select(col("pos").cast(IntegerType).as("subspace"), col("code"),
        col("col").as("cw"))
  }

  /** Flatten a collected (groupIdx, code/cell, values) codeword table
    * into the kernel's group-major / code-major / element-minor
    * layout. Group indices must be dense 0..groups-1 (pqCodebook's
    * complete grid; centroid cells by construction).
    */
  private def flatten(
      rows: Array[Row], groups: Int, nc: Int, sub: Int
  ): Array[Long] = {
    val flat = new Array[Long](groups * nc * sub)
    // grid completeness is ENFORCED, not assumed: a duplicate
    // (group, code) pair masking a missing one would leave an
    // all-zero codeword silently, and pqEncode is a public API
    val seen = new java.util.BitSet(groups * nc)
    rows.foreach { r =>
      val j = r.getInt(0)
      val c = r.getInt(1)
      require(j >= 0 && j < groups && c >= 0 && c < nc,
        s"codeword (group $j, code $c) out of range [$groups, $nc)")
      require(!seen.get(j * nc + c),
        s"duplicate codeword at (group $j, code $c)")
      seen.set(j * nc + c)
      val vs = r.getSeq[Long](2)
      require(vs.length == sub,
        s"codeword length ${vs.length} != $sub at (group $j, code $c)")
      var i = 0
      while (i < sub) { flat((j * nc + c) * sub + i) = vs(i); i += 1 }
    }
    require(seen.cardinality() == groups * nc,
      s"codeword grid incomplete: ${seen.cardinality()} of ${groups * nc} " +
        "(group, code) pairs present")
    flat
  }

  // ---------------------------------------------------------------------
  // Density-adaptive quantizer training (integer Lloyd refinement)
  // ---------------------------------------------------------------------

  /** Integer Lloyd (k-means) refinement of a flat codeword grid — the
    * DENSITY-ADAPTIVE training mode behind [[buildIndex]]'s
    * `refineIters`. The hash-sampled initializers are reproducible but
    * distribution-AGNOSTIC by construction, which the r17 refresh audit
    * measured as its one gap: retraining them on a drifted corpus
    * recovers nothing (union-retrained 22/200 < frozen 29/200 hits —
    * the quantizers never look at density). This refinement is Lloyd's
    * algorithm kept ENTIRELY in exact integer arithmetic so the
    * determinism contract survives training:
    *
    *  - assignment: exact integer squared-L2 argmin over the current
    *    codewords (the [[pqEncode]] kernel — ties → smallest code);
    *  - recenter: per-cluster element sums are exact BIGINTs (order-
    *    independent, map-side combined), the new codeword is the
    *    round-half-up integer mean `floorDiv(2·Σx + n, 2n)` — a pure
    *    function of the sums, partitioning-independent;
    *  - SSE GUARD: the rounded mean is accepted only when it strictly
    *    lowers the cluster's sum of squared distances under the CURRENT
    *    assignment (computable exactly from Σx, Σx² and n — no second
    *    pass), else the old codeword stays. Exact-mean recentering is
    *    monotone; integer ROUNDING could in principle regress a
    *    cluster, and the guard turns "usually improves" into
    *    "non-increasing by construction" (PqSpec pins it). Empty
    *    clusters keep their codeword.
    *
    * Every quantity is a pure integer function of (corpus multiset,
    * init, iters): bit-replayable across engines/partitionings — the
    * committed-golden convention covers refined indexes exactly like
    * hash-sampled ones. Overflow: |x| ≤ 127 ⇒ |Σx| ≤ 127n,
    * Σx² ≤ 127²n, the SSE terms ≤ 3·127²·sub·n — BIGINT-safe to
    * n ≈ 10¹³ vectors per cluster.
    *
    * Plan shape per iteration: ONE corpus pass — the fused encode
    * kernel projects each row to its codes, a bounded explode fans to
    * (group, code, element) and the integer agg map-side-combines to
    * ≤ groups·nc·sub rows per task before the one shuffle; only that
    * plan-constant grid (16k rows at the defaults) is collected. Cost
    * is iters × the encode pass — the documented training price of
    * density adaptation; `refineIters = 0` (the default everywhere)
    * keeps the zero-pass hash-sampled build.
    */
  private def refineFlat(
      qFrame: DataFrame, init: Array[Long],
      groups: Int, nc: Int, sub: Int, iters: Int
  ): Array[Long] = {
    var flat = init.clone()
    for (_ <- 1 to iters) {
      val stats = qFrame
        .select(col("__q"),
          graft.functions.VectorFunctions.pqEncodeCodes(
            col("__q"), flat, groups, nc, sub).as("__codes"))
        .select(posexplode(transform(sequence(lit(0), lit(groups - 1)),
          j => struct(
            element_at(col("__codes"), j + lit(1)).as("code"),
            slice(col("__q"), j * sub + 1, lit(sub)).as("sv")))))
        .select(col("pos").cast(IntegerType).as("g"),
          col("col.code").cast(IntegerType).as("c"), col("col.sv").as("sv"))
        .select(col("g"), col("c"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy(col("g"), col("c"), col("i"))
        .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
          count(lit(1)).as("n"))
        .collect() // ≤ groups·nc·sub rows — plan-constant
      val sx = new Array[Long](groups * nc * sub)
      val sxx = new Array[Long](groups * nc)
      val n = new Array[Long](groups * nc)
      stats.foreach { r =>
        val g = r.getInt(0); val c = r.getInt(1); val i = r.getInt(2)
        require(g >= 0 && g < groups && c >= 0 && c < nc && i >= 0 && i < sub,
          s"refine stats out of range: (g=$g, c=$c, i=$i)")
        sx((g * nc + c) * sub + i) = r.getLong(3)
        sxx(g * nc + c) += r.getLong(4)
        n(g * nc + c) = r.getLong(5)
      }
      val next = flat.clone()
      var gc = 0
      while (gc < groups * nc) {
        val cnt = n(gc)
        if (cnt > 0) {
          val base = gc * sub
          val cand = new Array[Long](sub)
          var sseOld = sxx(gc)
          var sseCand = sxx(gc)
          var i = 0
          while (i < sub) {
            val s = sx(base + i)
            val cw = flat(base + i)
            val cd = Math.floorDiv(2L * s + cnt, 2L * cnt)
            cand(i) = cd
            sseOld += cnt * cw * cw - 2L * cw * s
            sseCand += cnt * cd * cd - 2L * cd * s
            i += 1
          }
          if (sseCand < sseOld) System.arraycopy(cand, 0, next, base, sub)
        }
        gc += 1
      }
      flat = next
    }
    flat
  }

  /** The corpus's int8-code projection shared by both refinement
    * grids (PQ codebook and coarse quantizer): one column `__q`.
    */
  private def refineInput(
      corpus: DataFrame, vecCol: String
  ): DataFrame =
    // each refinement pass expands every row across the whole grid
    widen(corpus).select(
      Similarity.int8Quantize(col(vecCol)).getField("q").as("__q"))

  /** Encode-side SSE of a codeword grid over a corpus — Σ over rows and
    * subspaces of the squared L2 distance to the assigned codeword, in
    * exact BIGINT. The quantization-error instrument PqSpec uses to pin
    * that refinement never regresses the hash-sampled init.
    */
  def gridSse(
      corpus: DataFrame, vecCol: String,
      flat: Array[Long], groups: Int, nc: Int, sub: Int
  ): Long = {
    // one stats pass (the refineFlat shape), SSE assembled driver-side
    // from the exact per-cluster sums: Σx² − 2·cw·Σx + n·|cw|²
    val stats = refineInput(corpus, vecCol)
      .select(col("__q"),
        graft.functions.VectorFunctions.pqEncodeCodes(
          col("__q"), flat, groups, nc, sub).as("__codes"))
      .select(posexplode(transform(sequence(lit(0), lit(groups - 1)),
        j => struct(
          element_at(col("__codes"), j + lit(1)).as("code"),
          slice(col("__q"), j * sub + 1, lit(sub)).as("sv")))))
      .select(col("pos").cast(IntegerType).as("g"),
        col("col.code").cast(IntegerType).as("c"), col("col.sv").as("sv"))
      .select(col("g"), col("c"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy(col("g"), col("c"), col("i"))
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        count(lit(1)).as("n"))
      .collect()
    stats.foldLeft(0L) { (acc, r) =>
      val g = r.getInt(0); val c = r.getInt(1); val i = r.getInt(2)
      val cw = flat((g * nc + c) * sub + i)
      acc + r.getLong(4) - 2L * cw * r.getLong(3) + r.getLong(5) * cw * cw
    }
  }

  /** Collected (flat array) view of a local codebook frame plus its
    * grid shape — the refinement entry point shared by buildIndex.
    */
  private def flatCodebook(
      cbRows: Array[Row], m: Int
  ): (Array[Long], Int, Int) = {
    val nc = cbRows.length / m
    val sub = cbRows.head.getSeq[Long](2).length
    (flatten(cbRows, m, nc, sub), nc, sub)
  }

  /** Corpus → (id, codes): each vector's m nearest-codeword indices
    * (exact integer squared-L2 per subspace, ties → smallest code;
    * identical winners and ties to the cc − 2·dot form — the dropped
    * sv·sv term is constant within each argmin group). `codes` is
    * ordered by subspace. ONE fused kernel projection per row
    * ([[graft.functions.Kernels.pqEncodeCodes]], codebook shipped as
    * a plan-constant flat array): the inherent O(n·m·ncode) encode
    * arithmetic runs in-row with zero per-candidate allocation. The
    * broadcast-join + min-struct-agg form this replaces materialized
    * one join row per candidate — n·m·ncode rows of array garbage
    * whose GC and cold-JIT behavior made decade-scale builds swing
    * 223–590 s; the fused form holds the same work in a tight loop
    * (sfx100 build ~60 s warm-linear). Subspace width comes from the
    * CODEBOOK (a mixed-dim corpus row is a caller error — the
    * codebook builder validates its sample).
    */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int
  ): DataFrame = {
    val cbRows = codebook.select(col("subspace").cast(IntegerType),
      col("code").cast(IntegerType), col("cw")).collect()
    require(cbRows.nonEmpty, "empty codebook — build it on a non-empty corpus")
    require(cbRows.length % m == 0,
      s"codebook rows ${cbRows.length} not a complete m=$m grid")
    val nc = cbRows.length / m
    val sub = cbRows.head.getSeq[Long](2).length
    val flat = flatten(cbRows, m, nc, sub)
    // the per-row m×ncode argmin is the cost, not the scan
    widen(corpus).select(col(idCol).as("id"),
      graft.functions.VectorFunctions.pqEncodeCodes(
        Similarity.int8Quantize(col(vecCol)).getField("q"),
        flat, m, nc, sub).as("codes"))
  }

  /** (query_id, __q): each query's int8 codes ([[Similarity.int8Quantize]]). */
  private[operators] def quantized(queries: DataFrame, qidCol: String, qvecCol: String): DataFrame =
    queries.select(col(qidCol).as("query_id"),
      Similarity.int8Quantize(col(qvecCol)).getField("q").as("__q"))

  /** Per-query flat ADC lookup table over `__q`: one array of m·nc longs
    * ordered by (subspace, code) — entry [j·nc + c] is dot(query
    * subvector j, codeword c of subspace j), the sub-vector width taken
    * from the query's own length. The codegen'd
    * [[graft.functions.Kernels.pqQueryLut]] over the index's flat
    * codebook: a per-row projection of the query batch, with no join,
    * aggregate or shuffle.
    */
  private[operators] def queryLut(index: PqIndex): Column =
    graft.functions.VectorFunctions.pqQueryLut(col("__q"), index.codebookFlat,
      index.m, index.nc, index.codebookFlat.length / (index.m * index.nc))

  /** Each query's `nProbe` nearest cells over `__q` — the codegen'd
    * [[graft.functions.Kernels.pqRouteCells]] over the index's flat
    * centroids (exact integer cc − 2·dot, ties → smaller cell).
    */
  private[operators] def routeCells(index: PqIndex, nProbe: Int): Column =
    graft.functions.VectorFunctions.pqRouteCells(col("__q"), index.centroidsFlat,
      index.dim, nProbe)

  /** The in-row ADC fold: m LUT lookups summed in exact BIGINT — the
    * codegen'd [[graft.functions.VectorFunctions.adcLong]] kernel
    * (the serving scan's per-row cost; an interpreted
    * zip_with/aggregate HOF here was the one non-codegen step left in
    * the PQ hot path).
    */
  private def adcScore(codes: Column, lut: Column, m: Int, nc: Int): Column =
    graft.functions.VectorFunctions.adcLong(codes, lut, nc)

  private def rankAdc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dot").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** A built IVF-PQ index — the build-once/serve-many split ([[Ivf]]'s
    * persisted-index shape, in-session): `codebook` and `centroids`
    * are plan-constant local frames (≤ m·ncode and ≤ nlist rows),
    * `encoded` is the corpus as (id, codes, cell) — m bytes of PQ
    * codes plus a cell id per vector, the ONLY data-proportional
    * state. At scale, persist `encoded` sorted by cell ([[writeIndex]],
    * the [[Ivf.writeInt8Index]] layout with m-byte payloads) so probes
    * read only the files whose cell range holds a probed cell. `codebookFlat` and
    * `centroidsFlat` are the same two grids as the kernels' flat
    * arrays ([[flatten]] layout), kept so that encoding and routing an
    * increment run no collect.
    */
  final case class PqIndex(
      m: Int, nc: Int, nlist: Int, dim: Int,
      codebook: DataFrame, centroids: DataFrame, encoded: DataFrame,
      codebookFlat: Array[Long], centroidsFlat: Array[Long])

  private val codebookSchema = StructType(Seq(StructField("subspace", IntegerType),
    StructField("code", IntegerType), StructField("cw", ArrayType(LongType))))
  private val centroidsSchema = StructType(Seq(StructField("cell", IntegerType),
    StructField("ccode", ArrayType(LongType))))

  /** A [[PqIndex]] over flat quantizer grids: the codebook and centroid
    * frames are local relations re-seated from the arrays (one
    * partition each), which the index write stores; encode, routing and
    * the LUTs read the arrays.
    */
  private def pqIndex(
      spark: SparkSession, m: Int, nc: Int, nlist: Int, dim: Int,
      cbFlat: Array[Long], centFlat: Array[Long], encoded: DataFrame
  ): PqIndex = {
    val sub = cbFlat.length / (m * nc)
    val cbRows = for (g <- 0 until m; c <- 0 until nc) yield
      Row(g, c, cbFlat.slice((g * nc + c) * sub, (g * nc + c + 1) * sub).toSeq)
    val centRows = (0 until centFlat.length / dim).map { cell =>
      Row(cell, centFlat.slice(cell * dim, (cell + 1) * dim).toSeq)
    }
    def local(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    PqIndex(m, nc, nlist, dim, local(cbRows, codebookSchema),
      local(centRows, centroidsSchema), encoded, cbFlat, centFlat)
  }

  /** The coarse-quantizer sample frame: `nlist` hash-sampled (salt 7)
    * full int8 code vectors with dense cell ids and their self-dots —
    * one TakeOrdered cut, ≤ nlist rows.
    */
  private def centroidsBuilt(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int
  ): DataFrame =
    corpus
      .select(col(idCol).as("__id"),
        Similarity.int8Quantize(col(vecCol)).getField("q").as("ccode"))
      .orderBy(Sampling.hashRank(col("__id"), salt = 7L), col("__id"))
      .limit(nlist)
      // bounded unpartitioned window: runs AFTER the limit, ≤ nlist rows
      .withColumn("cell",
        (row_number().over(Window.orderBy(
          Sampling.hashRank(col("__id"), salt = 7L), col("__id"))) - 1)
          .cast(IntegerType))
      .select(lit(0).as("grp"), col("cell"), col("ccode"))

  /** Build the all-integer IVF-PQ index: PQ codebook (hash-sampled
    * int8 subvectors, [[pqCodebook]]), coarse quantizer (`nlist`
    * hash-sampled FULL int8 code vectors, salt 7 — a routing decision
    * distinct from the codebook's sampling), per-vector PQ codes
    * ([[pqEncode]]) and cells (integer squared-L2 argmin over full
    * codes — the standard L2 coarse quantizer; same cc − 2·dot
    * reduction as pqEncode, ties → smallest cell). Every comparison is
    * BIGINT-exact, so the whole index is bit-replayable in any engine.
    */
  def buildIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ncode: Int, nlist: Int, refineIters: Int = 0
  ): PqIndex = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(refineIters >= 0, s"refineIters must be >= 0, got $refineIters")
    // the codebook sample and the coarse-quantizer sample are two
    // INDEPENDENT TakeOrdered collects over the same corpus — overlap
    // them so the second's scan back-fills the first's straggler tail
    // (guide §2.6; the x_pq_index_grow seed-cut shape, r19); both are
    // plan-constant (≤ m·ncode and ≤ nlist rows)
    val Seq(cbRows, centRows) = Actions.runConcurrently(
      () => pqCodebook(corpus, idCol, vecCol, m, ncode).collect(),
      () => centroidsBuilt(corpus, idCol, vecCol, nlist).collect())
    require(centRows.nonEmpty, "empty corpus — cannot build a PQ index")
    // the Ivf.buildIndex discipline: validate the SAMPLE uniform-dim
    // at collect time (free); a mixed-dim corpus is a caller error —
    // mismatched rows would silently zip-truncate in the encode
    val lens = cbRows.map(_.getSeq[Long](2).length).distinct
    require(lens.length <= 1,
      s"non-uniform embedding dims in the hash sample (codeword lengths " +
        s"${lens.sorted.mkString(",")}) — filter the corpus to one dim first")
    // the coarse quantizer's full-code length IS the embedding dim —
    // carried on the index so append guards and writeIndex never pay
    // a job to rediscover it
    val dim = centRows.head.getSeq[Long](2).length
    val (cbFlat0, nc, sub) = flatCodebook(cbRows, m)
    // the coarse grid is one "group" spanning the full code — flatten's
    // dense-grid/duplicate/length enforcement covers it too
    val centFlat0 = flatten(centRows, 1, centRows.length, dim)
    // density-adaptive training (refineIters > 0): the hash-sampled
    // grids above stay the INITIALIZERS, and [[refineFlat]] runs
    // integer Lloyd over the corpus — codebook per subspace, coarse
    // quantizer over full codes. Both refined grids remain exact
    // integer tables, so encode/routing/ADC determinism is unchanged.
    def refined(flat: Array[Long], groups: Int, n: Int, width: Int) =
      if (refineIters == 0) flat
      else refineFlat(refineInput(corpus, vecCol), flat, groups, n, width, refineIters)
    val cbFlat = refined(cbFlat0, m, nc, sub)
    val centFlat = refined(centFlat0, 1, centRows.length, dim)
    pqIndex(corpus.sparkSession, m, nc, nlist, dim, cbFlat, centFlat,
      encodeAndRoute(corpus, idCol, vecCol, m, nc, cbFlat, dim, centFlat))
  }

  /** Corpus → (id, codes, cell) in ONE fused projection: the
    * [[pqEncode]] codes kernel and the coarse-routing kernel (a single
    * "group" spanning the full code — argmin by exact integer
    * squared-L2, ties → smallest cell) over the same quantized row.
    * The encode-join-route composition this replaces evaluated the
    * corpus twice and shuffled BOTH projections into an id equi-join
    * (plus each side's own [[Parallelism.widen]] repartition) — four
    * corpus-proportional exchanges per index build/append for what is
    * a per-row computation. Identical rows: the join was on unique
    * ids, and both kernels are deterministic per-row functions. The
    * grids arrive as flat arrays, so this runs no job.
    */
  private def encodeAndRoute(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, nc: Int, cbFlat: Array[Long], dim: Int, centFlat: Array[Long]
  ): DataFrame = {
    val sub = cbFlat.length / (m * nc)
    // the per-row m×ncode + nlist argmins are the cost, not the scan
    widen(corpus).select(
      col(idCol).as("id"),
      graft.functions.VectorFunctions.pqEncodeCodes(
        Similarity.int8Quantize(col(vecCol)).getField("q"),
        cbFlat, m, nc, sub).as("codes"),
      element_at(graft.functions.VectorFunctions.pqEncodeCodes(
        Similarity.int8Quantize(col(vecCol)).getField("q"),
        centFlat, 1, centFlat.length / dim, dim), lit(1)).as("cell"))
  }

  /** ADC top-k against a built [[PqIndex]]: per-query top `k` ids by
    * the exact integer PQ score Σⱼ dot(q_subⱼ, codebook[j][codesⱼ]).
    * `nProbe < nlist` routes each query to its nProbe min-L2 cells and
    * scores ONLY those cells' codes (candidate volume ∝ probed-cell
    * occupancy; the broadcast probe join replaces the corpus-wide
    * cross join); `nProbe ≥ nlist` (the default) is the exhaustive
    * flat scan — identical results to scoring everything. Returns
    * (query_id, id, adc_dot, rank), ties by id.
    *
    * Plan: one projection of the query batch computes each query's
    * flat LUT ([[queryLut]], m·nc longs) and, when routing, its nProbe
    * cells ([[routeCells]]) — per-row kernels over the index's flat
    * grids, so the query side runs no join, aggregate or shuffle. That
    * projection, (query_id, lut) or (query_id, cell, lut) exploded from
    * the cells (the [[Ivf]] int8 probe shape), is broadcast into the
    * codes scan: a cross join when exhaustive, an equi-join on cell
    * when routed. Then the in-row m-lookup fold and the per-query
    * partial WindowGroupLimit, whose exchange is the plan's only
    * shuffle. The corpus-side scan touches codes (+cell) only; nothing
    * data-proportional is collected or sorted.
    */
  def adcTopK(
      index: PqIndex,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int = Int.MaxValue
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val q = quantized(queries, qidCol, qvecCol)
    val candidates =
      if (nProbe >= index.nlist)
        index.encoded.crossJoin(broadcast(q.select(col("query_id"), queryLut(index).as("lut"))))
      else {
        // the LUT is built once per query, before the explode repeats
        // it on each of the query's nProbe rows
        val probes = q
          .select(col("query_id"), queryLut(index).as("lut"),
            routeCells(index, nProbe).as("__cells"))
          .select(col("query_id"), explode(col("__cells")).as("cell"), col("lut"))
        index.encoded.join(broadcast(probes), Seq("cell"))
      }
    rankAdc(candidates
      .select(col("query_id"), col("id"),
        adcScore(col("codes"), col("lut"), index.m, index.nc).as("adc_dot")), k)
  }

  /** Each query's `nProbe` nearest cells by exact integer squared-L2
    * (cc − 2·dot, ties → smallest cell): (query_id, cell), one row per
    * probed cell — a per-row projection of the query batch
    * ([[routeCells]]).
    */
  private[operators] def routed(
      index: PqIndex, queries: DataFrame, qidCol: String, qvecCol: String, nProbe: Int
  ): DataFrame =
    quantized(queries, qidCol, qvecCol)
      .select(col("query_id"), explode(routeCells(index, nProbe)).as("cell"))

  /** One-shot flat PQ-ADC top-k (build + exhaustive serve). Callers
    * serving many query batches should [[buildIndex]] once and
    * [[adcTopK]] repeatedly.
    */
  def pqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      m: Int, ncode: Int, k: Int
  ): DataFrame =
    adcTopK(buildIndex(corpus, idCol, vecCol, m, ncode, nlist = 1),
      queries, qidCol, qvecCol, k)

  /** One-shot IVF-PQ top-k (build + routed serve) — FAISS's IndexIVFPQ
    * shape with zero float comparisons end to end.
    */
  def ivfPqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      m: Int, ncode: Int, nlist: Int, nProbe: Int, k: Int
  ): DataFrame = {
    require(nProbe >= 1 && nProbe <= nlist,
      s"nProbe $nProbe out of range for nlist=$nlist")
    adcTopK(buildIndex(corpus, idCol, vecCol, m, ncode, nlist),
      queries, qidCol, qvecCol, k, nProbe)
  }

  // ---------------------------------------------------------------------
  // Persisted IVF-PQ index — the build-once / probe-many serving split
  // ---------------------------------------------------------------------

  /** Index parameters — the parameter lines of the index's manifest
    * ([[graft.sources.IndexManifest]]). A probe or append against
    * mismatched parameters would score in a silently different space —
    * both validate against them and fail loudly instead.
    */
  private[operators] final case class PqIndexMeta(
      m: Int, nc: Int, nlist: Int, dim: Int) {
    def params: Seq[(String, String)] = Seq("format" -> "ivf_pq", "m" -> s"$m",
      "nc" -> s"$nc", "nlist" -> s"$nlist", "dim" -> s"$dim")
  }

  private[operators] object PqIndexMeta {
    def of(manifest: IndexManifest): PqIndexMeta = PqIndexMeta(manifest.intParam("m"),
      manifest.intParam("nc"), manifest.intParam("nlist"), manifest.intParam("dim"))
  }

  private def manifestAt(spark: SparkSession, path: String): IndexManifest =
    IndexManifest.load(spark, path, "ivf_pq")

  /** Write (or grow) the PERSISTED IVF-PQ index — the serving shape of
    * a 100 TB deployment, where the corpus is encoded once per refresh
    * and probed by many query batches that must never pay the encode
    * again. Layout under `path`:
    *
    *  - `cells/`: (id, codes, cell) sorted by `cell` — the PQ codes,
    *    stored as `array<tinyint>` SHIFTED BY −128 (codes span
    *    0..nc−1 ≤ 255; tinyint is signed, so the shift is the honest
    *    1-byte-per-subspace representation — m bytes per vector, a
    *    32× compression of dim-64 float32 at the defaults; readers
    *    widen back losslessly). The manifest records each file's cell
    *    range, so a probe's `cell IN (...)` predicate drops the files
    *    that hold none of the probed cells.
    *  - `codebook/`: (subspace, code, cw array<tinyint>) — int8
    *    codeword values are in [-127, 127], no shift needed.
    *  - `centroids/`: (cell, ccode array<tinyint>) — the coarse
    *    quantizer's full int8 code vectors.
    *  - `meta.txt`: the manifest — m, nc, nlist, dim ([[PqIndexMeta]])
    *    plus every committed file. Its rename commits a write: the
    *    datasets are staged first, and an overwrite deletes the old
    *    files only after the new manifest is in place.
    *
    * `mode="append"` is the corpus-growth workflow: the increment is
    * encoded under the EXISTING codebook and routed by the EXISTING
    * centroids (read back from disk — fresh quantizers would place old
    * and new vectors in incomparable spaces) and its code files join
    * `cells/` in a new manifest version; codebook, centroids and the
    * parameters are untouched. Callers own id disjointness across
    * increments (the [[Dedup.writeMinHashIndex]] contract), and every
    * increment row's dim is validated against the index.
    */
  def writeIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      m: Int = 8, ncode: Int = 256, nlist: Int = 64, mode: String = "error",
      refineIters: Int = 0
  ): Unit = {
    val spark = corpus.sparkSession
    IndexManifest.base(spark, path, mode, "ivf_pq") match {
      case IndexManifest.Append(onto) =>
        // append encodes/routes under the PERSISTED quantizers (read
        // back below) — re-training them here would strand the existing
        // codes in a different space; a refresh cycle rebuilds fresh
        require(refineIters == 0,
          "refineIters applies to fresh builds only — append must reuse the " +
            "persisted quantizers (re-encode the union to retrain)")
        val manifest = onto.getOrElse(manifestAt(spark, path)) // throws: no meta.txt
        val meta = PqIndexMeta.of(manifest)
        require(meta.m == m && meta.nlist == nlist,
          s"index at $path was built with m=${meta.m}/nlist=${meta.nlist}; " +
            s"cannot append with m=$m/nlist=$nlist")
        appendEncoded(corpus, idCol, vecCol, path, readIndexFrom(spark, path, manifest), manifest)
      case IndexManifest.Replace =>
        // the corpus is encoded and routed once: the keyed write's range
        // sample and its shuffle both read the persisted codes
        val built = buildIndex(corpus, idCol, vecCol, m, ncode, nlist, refineIters)
        val encoded = built.encoded.persist(StorageLevel.MEMORY_AND_DISK)
        try writeBuilt(built.copy(encoded = encoded), path) finally encoded.unpersist()
    }
  }

  /** Persist an already-built [[PqIndex]] (fresh builds only — append
    * needs the raw increment, use the corpus form). Callers holding a
    * session-shared index avoid re-paying the encode. The `cells/`
    * write evaluates `index.encoded` twice (its range sample, then its
    * shuffle): persist it first unless it is cached already.
    */
  def writeIndex(index: PqIndex, path: String, mode: String): Unit =
    IndexManifest.base(index.encoded.sparkSession, path, mode, "ivf_pq") match {
      case IndexManifest.Append(_) => throw new IllegalArgumentException(
        "append needs the raw increment corpus — use the corpus form")
      case IndexManifest.Replace => writeBuilt(index, path)
    }

  /** The fresh write of a built [[PqIndex]] ([[writeIndex]]). */
  private def writeBuilt(index: PqIndex, path: String): Unit = {
    val spark = index.encoded.sparkSession
    // the three dataset writes are independent (disjoint directories,
    // deterministic projections) — overlap them (Actions scaladoc); the
    // manifest commits strictly AFTER all three
    val params = PqIndexMeta(index.m, index.nc, index.nlist, index.dim).params
    IndexManifest.commit(spark, path, params, None) { stage =>
      Actions.runConcurrently(
        () => stage.write(index.codebook
          .select(col("subspace"), col("code"),
            col("cw").cast("array<tinyint>").as("cw"))
          .coalesce(1), "codebook", None),
        () => stage.write(index.centroids
          .select(col("cell"), col("ccode").cast("array<tinyint>").as("ccode"))
          .coalesce(1), "centroids", None),
        () => stage.write(shiftedCells(index.encoded), "cells", Some("cell")))
    }
    ()
  }

  /** `cells/` rows of an (id, codes, cell) frame: codes as tinyint − 128. */
  private def shiftedCells(encoded: DataFrame): DataFrame =
    encoded.select(col("id"),
      transform(col("codes"), c => (c - lit(128)).cast("tinyint")).as("codes"), col("cell"))

  /** The append-mode encode+route+write over ALREADY-READ quantizers,
    * committed on top of `base` (the manifest version the increment
    * extends) — shared by [[writeIndex]]'s append mode and
    * [[ingestBatchTo]] (which also probed with the same index object
    * and must not pay the codebook/centroid collects twice per fold
    * step). The quantizers travel as flat arrays on the index, so the
    * encode runs no collect.
    *
    * Every increment row's dim must match the index (short vectors
    * would silently truncate-encode): the guard rides INSIDE the
    * encode projection ([[Similarity.requireDim]]) — the separate
    * min/max aggregate this replaces paid one full extra scan of the
    * corpus-proportional embedding column per append (r19, guide
    * §1.2). A mismatch aborts the staged write before the manifest
    * commits, so nothing becomes visible (the exception is a
    * task-raised SparkException).
    */
  private def appendEncoded(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      index: PqIndex, base: IndexManifest
  ): Unit = {
    val guarded = corpus.withColumn(vecCol,
      Similarity.requireDim(col(vecCol), index.dim, s"at $path"))
    // encode + route the increment under the FROZEN quantizers; codes
    // come from THIS frame's projection, never a re-read of the index
    // (the writeMinHashIndex quadratic-append hazard)
    IndexManifest.commit(corpus.sparkSession, path, base.params, Some(base)) { stage =>
      Seq(stage.write(shiftedCells(encodeAndRoute(guarded, idCol, vecCol, index.m, index.nc,
        index.codebookFlat, index.dim, index.centroidsFlat)), "cells", Some("cell")))
    }
    ()
  }

  /** Reconstruct a [[PqIndex]] from a [[writeIndex]] directory at its
    * current manifest version: the codebook and centroids collect to
    * plan-constant grids (≤ m·nc and ≤ nlist rows — two jobs, nothing
    * else: the scans come from the manifest, so there is no listing or
    * schema inference); `encoded` is a LAZY scan of the version's
    * `cells/` files with codes widened back (+128) — data-proportional
    * state stays on disk until a probe filters it.
    */
  def readIndex(spark: SparkSession, path: String): PqIndex =
    readIndexFrom(spark, path, manifestAt(spark, path))

  private def readIndexFrom(
      spark: SparkSession, path: String, manifest: IndexManifest
  ): PqIndex = {
    val meta = PqIndexMeta.of(manifest)
    // the two side-table collects are independent single-file reads —
    // overlap them (guide §2.6): every probe session pays this read
    val Seq(cbRows, centRows) = Actions.runConcurrently(
      () => manifest.scan(spark, path, "codebook")
        .select(col("subspace").cast(IntegerType), col("code").cast(IntegerType),
          col("cw").cast("array<bigint>"))
        .collect(),
      () => manifest.scan(spark, path, "centroids")
        .select(lit(0), col("cell").cast(IntegerType), col("ccode").cast("array<bigint>"))
        .collect())
    require(cbRows.nonEmpty && centRows.nonEmpty, s"index at $path has empty quantizers")
    val sub = cbRows.head.getSeq[Long](2).length
    pqIndex(spark, meta.m, meta.nc, meta.nlist, meta.dim,
      flatten(cbRows, meta.m, meta.nc, sub),
      flatten(centRows, 1, centRows.length, meta.dim), cellsScan(spark, path, manifest))
  }

  /** The lazy, widened (id, codes, cell) scan of `cells/` at one
    * manifest version: it reads exactly the files that version lists,
    * so it never sees a later append. A fold step probing a growing
    * index builds it per step from the current manifest — the
    * quantizer side tables are frozen under append, the cells are not
    * ([[ingestBatchTo]]).
    */
  private def cellsScan(
      spark: SparkSession, path: String, manifest: IndexManifest
  ): DataFrame =
    manifest.scan(spark, path, "cells")
      .select(col("id"),
        transform(col("codes"), c => (c.cast(IntegerType) + lit(128))).as("codes"),
        col("cell").cast(IntegerType).as("cell"))

  /** One step of a SEQUENTIAL PQ-ingest fold at a PRUNED probe — the
    * production streaming-ANN shape ([[Ivf.ingestAnnBatchTo]] runs the
    * exhaustive-probe variant for its closed-form oracle; THIS is what
    * a deployment actually serves): probe `batch`'s vectors against
    * the persisted IVF-PQ index at `path` with `nProbe` ≪ nlist (top-k
    * ADC neighbors among everything previously SEEN, scanning only the
    * probed cells' code files), hand the neighbor frame to `sink`, and
    * append the batch under the index's FROZEN quantizers. Drive it
    * from foreachBatch; micro-batches execute strictly in sequence, so
    * batch k retrieves against exactly batches < k.
    *
    * `side` is the index read ONCE per fold ([[readIndex]] before the
    * stream starts): append never touches codebook/centroids or the
    * parameters, so every step runs against one frozen quantizer set
    * instead of paying two collect jobs per micro-batch (r19, guide
    * §1.2). Each step reads the manifest once: the probe scans the
    * `cells/` files of that version ([[cellsScan]]), so it sees every
    * earlier batch's append, and the append commits the next version
    * on top of it. The caller owns side/path consistency.
    *
    * `maxQueries` bounds the RETRIEVAL side of each batch (the
    * [[graft.operators.Sampling.hashRank]]-minima slice, ties by id —
    * the exactAuditMaxQueries convention applied to the fold): the
    * append still ingests the FULL batch, but probe work per batch is
    * capped at maxQueries × probed-cell occupancy instead of growing
    * with batch size — the difference between linear-in-corpus and
    * quadratic when the harness scales batches with the corpus. All
    * arithmetic (routing, ADC) is BIGINT-exact, so the whole fold is
    * closed-form re-derivable by an external oracle — no goldens.
    *
    * The probe frame (its cell-discovery collect included) is built
    * from the step's manifest version, and the append commits a LATER
    * one, so the probe never scores the batch against its own vectors
    * (PqSpec pins this); the sink overlaps the append. Replay
    * (`batchId`) is the [[graft.sources.IndexManifest.foldStep]]
    * contract, and the neighbor frame is [[Ivf.foldNeighbors]]'s: a
    * replay emits what the first delivery did.
    */
  def ingestBatchTo(
      spark: SparkSession, batch: DataFrame,
      idCol: String, vecCol: String, path: String, side: PqIndex,
      k: Int, nProbe: Int, batchId: Option[Long],
      maxQueries: Int, sink: DataFrame => Unit
  ): Unit = {
    require(maxQueries >= 1, s"maxQueries must be >= 1, got $maxQueries")
    val queries =
      if (maxQueries == Int.MaxValue) batch
      else batch
        .orderBy(Sampling.hashRank(col(idCol)), col(idCol))
        .limit(maxQueries) // TakeOrderedAndProject — no global sort
    IndexManifest.foldStep(spark, path, "ivf_pq", batchId) { (current, replay) =>
      Ivf.foldNeighbors(cellsScan(spark, path, current), batch, idCol, replay, k, "adc_dot") {
        (cells, n) => probeIndex(side.copy(encoded = cells), queries, idCol, vecCol, n, nProbe)
      }
    }(appendEncoded(batch, idCol, vecCol, path, side, _))(sink)
  }

  /** ADC top-k over a [[writeIndex]] index, read with [[readIndex]]:
    * route each query with the PERSISTED centroids, scan ONLY the
    * probed cells' code files, rank by the exact integer ADC dot —
    * bit-identical in scores and ranking to an in-session
    * [[ivfPqTopK]] over the same corpus and parameters (same
    * quantizers; integer scoring has no accumulation-order freedom).
    * The scan is pruned to the probed cells by [[Ivf.pruneToProbed]],
    * over [[adcTopK]]'s routing frame.
    *
    * Callers probing the same persisted index repeatedly read it once
    * and skip the per-call codebook/centroid collects. The probe scans
    * `index.encoded`, which holds the `cells/` files of the manifest
    * version read by [[readIndex]] ([[cellsScan]]): later appends
    * commit later versions and stay invisible until the scan is
    * rebuilt from the current manifest, as [[ingestBatchTo]] does per
    * step. Building the probe runs one action, the probe-cell collect
    * (none when nProbe == nlist).
    */
  def probeIndex(
      index: PqIndex,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int = 8
  ): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.nlist,
      s"nProbe $nProbe out of range for nlist=${index.nlist}")
    val pruned = Ivf.pruneToProbed(index.encoded, queries,
      routed(index, queries, qidCol, qvecCol, nProbe), exhaustive = nProbe == index.nlist)
    adcTopK(index.copy(encoded = pruned), queries, qidCol, qvecCol, k, nProbe)
  }
}
