package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * cell-probing alternative to hyperplane LSH ([[Similarity.lshTopK]]).
  *
  * Index structure: a small set of coarse centroids partitions the
  * corpus into cells; each vector is assigned to its nearest centroid.
  * A query probes only its `nProbe` nearest cells and re-ranks the
  * candidates with exact cosine.
  *
  * Scale path (100 TB): centroid assignment is one narrow projection
  * (the centroid table is a plan constant — no join); the assigned
  * corpus is written `partitionBy("cell")` once, so a query's probes
  * touch only nProbe/nlist of the files (partition pruning). Here the
  * cells stay in-memory and the probe is a hash join on the cell id.
  *
  * Centroids are a deterministic hashed sample of the corpus (the k
  * vectors with the smallest xxhash64(id)) — reproducible across runs
  * with no training iterations; a k-means refinement could be layered
  * on without changing the query path.
  */
object Ivf {

  final case class IvfIndex(centroids: Array[Double], dim: Int, nlist: Int)

  /** Build the coarse quantizer: k hash-sampled corpus vectors. */
  def buildIndex(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int
  ): IvfIndex = {
    val rows = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .orderBy(xxhash64(col("id")))
      .limit(nlist)
      .collect()
    require(rows.nonEmpty, "empty corpus — cannot build IVF index")
    val dim = rows(0).getSeq[Double](1).length
    val flat = new Array[Double](rows.length * dim)
    rows.zipWithIndex.foreach { case (r, i) =>
      val v = r.getSeq[Double](1)
      require(v.length == dim,
        s"non-uniform embedding dim: id=${r.get(0)} has ${v.length}, expected $dim")
      var j = 0
      while (j < dim) { flat(i * dim + j) = v(j); j += 1 }
    }
    IvfIndex(flat, dim, rows.length)
  }

  /** Corpus with its IVF cell id (nearest centroid). At scale, persist
    * this `partitionBy("cell")`.
    */
  def assign(corpus: DataFrame, vecCol: String, index: IvfIndex): DataFrame =
    corpus.withColumn("cell",
      VectorFunctions.nearestCentroids(col(vecCol), index.centroids, index.dim, 1)
        .getItem(0))

  /** Spherical k-means refinement of the coarse quantizer: `iters`
    * Lloyd rounds of assign → recenter. Assignment is the same cosine
    * kernel the query path uses; the recenter step averages
    * L2-NORMALIZED vectors ([[Centroids.l2Normalize]]), whose direction
    * is the argmax of summed cosine for a fixed assignment — so the
    * objective (mean cosine to the assigned centroid) is monotonically
    * non-decreasing, which IvfSpec asserts on real embeddings. Cells
    * that attract no vectors keep their previous centroid.
    *
    * Each round is one distributed assign-and-aggregate pass
    * ([[Centroids.groupCentroids]]: map-side-combined (cell, pos)
    * partial sums); only the nlist×dim centroid table is collected —
    * bounded by index size, never corpus size.
    */
  def refineCentroids(
      corpus: DataFrame, vecCol: String, index: IvfIndex, iters: Int
  ): IvfIndex = {
    var cur = index
    val vecs = corpus
      .select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) === cur.dim)
      .withColumn("v", Centroids.l2Normalize(col("v")))
    for (_ <- 1 to iters) {
      val assigned = assign(vecs, "v", cur)
      val flat = cur.centroids.clone()
      Centroids.groupCentroids(assigned, "cell", "v")
        .collect() // <= nlist rows, one dim-length array each
        .foreach { r =>
          val cell = r.getInt(0)
          val c = r.getSeq[Double](2)
          var j = 0
          while (j < cur.dim) { flat(cell * cur.dim + j) = c(j); j += 1 }
        }
      cur = IvfIndex(flat, cur.dim, cur.nlist)
    }
    cur
  }

  /** ANN top-k over a prebuilt index and the corpus assigned to its
    * cells (`assign` of an `(id, v)` projection): probe each query's
    * nProbe nearest cells, exact-cosine re-rank within the candidate
    * union. Returns (query_id, id, cosine, rank). The index build (an
    * orderBy-limit collect) and the cell assignment are
    * nProbe-independent, so a caller probing at several settings (the
    * nProbe tuning sweep) builds them once.
    */
  def ivfTopK(
      assigned: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      index: IvfIndex, k: Int, nProbe: Int = 8
  ): DataFrame =
    rankProbes(assigned, queries, qidCol, qvecCol, index, k, nProbe)

  /** IVF routing + INT8 scoring — the composed serving shape of a
    * large ANN deployment: the coarse quantizer narrows each query to
    * `nProbe` cells (candidate volume ∝ probed-cell occupancy, never
    * corpus), then candidates rank by the EXACT 64-bit integer dot of
    * int8 codes ([[Similarity.int8Quantize]] +
    * [[graft.functions.Kernels.dotLong]]) instead of float cosine —
    * at 100 TB the scan reads 4×-compressed codes and touches raw
    * floats never. A corpus vector lives in exactly one cell, so a
    * (query, id) candidate appears at most once even probing many
    * cells — no dedup stage. Scores are bit-deterministic; the
    * routing replays via the committed kernel goldens, which makes
    * the whole composition verifiable (`x_ann_ivf_int8`).
    */
  def ivfInt8TopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nlist: Int = 64, nProbe: Int = 8
  ): DataFrame = {
    val index = buildIndex(corpus, idCol, vecCol, nlist)
    rankInt8Probes(int8Assigned(corpus, idCol, vecCol, index),
      int8Probes(queries, qidCol, qvecCol, index, nProbe), k)
  }

  /** The int8 serving frame: (id, cell, cq) — each vector's IVF cell
    * and its int8 codes ([[Similarity.int8Quantize]]). The in-session
    * ([[ivfInt8TopK]]) and persisted ([[writeInt8Index]]) paths both
    * derive from this projection, so their scores are bit-identical
    * by construction.
    */
  private def int8Assigned(
      corpus: DataFrame, idCol: String, vecCol: String, index: IvfIndex
  ): DataFrame =
    assign(corpus.select(col(idCol).as("id"), col(vecCol).as("v")), "v", index)
      .select(col("id"), col("cell"),
        Similarity.int8Quantize(col("v")).getField("q").as("cq"))

  /** Query-side probe frame: (query_id, qq, cell) — one row per
    * (query, probed cell), codes quantized once per query.
    */
  private def int8Probes(
      queries: DataFrame, qidCol: String, qvecCol: String,
      index: IvfIndex, nProbe: Int
  ): DataFrame =
    // two-step select: the analyzer's generator extraction re-resolves
    // sibling expressions against an un-aliased struct (FIELD_NOT_FOUND
    // col1/col2), so the quantized codes are named BEFORE the explode
    queries
      .select(col(qidCol).as("query_id"),
        Similarity.int8Quantize(col(qvecCol)).getField("q").as("qq"),
        VectorFunctions.nearestCentroids(
          col(qvecCol), index.centroids, index.dim, nProbe).as("__cells"))
      .select(col("query_id"), col("qq"), explode(col("__cells")).as("cell"))

  /** Candidate join + integer-dot scoring + per-query rank over a
    * prebuilt [[int8Probes]] frame. BOTH int8 serving paths — the
    * in-session [[ivfInt8TopK]] and the persisted-index
    * [[ivfInt8ProbeIndex]] — rank through this one block, so their
    * bit-identical-scores contract is held by construction, not by
    * keeping two copies of the join textually in sync.
    */
  private def rankInt8Probes(
      assigned: DataFrame, probes: DataFrame, k: Int
  ): DataFrame = {
    val candidates = assigned
      .join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("id"),
        graft.functions.VectorFunctions.dotLong(col("cq"), col("qq")).as("int_dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("int_dot").desc, col("id").asc)
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-space DIVERSITY SAMPLE: at most `perCell` vectors from
    * every IVF cell — the stratified curation step that keeps semantic
    * COVERAGE while cutting volume (a uniform sample over-represents
    * dense regions; sampling per coarse cell keeps the tails). The
    * within-cell pick is the repo's deterministic hash-order idiom
    * (ascending `xxhash64(id)`, ties by id): reproducible across runs
    * and engines, no RNG state, and "random" with respect to any
    * corpus ordering. Returns (cell, pos, id) with pos 1..perCell.
    *
    * Plan shape: centroid build collects ≤ nlist rows; assignment is a
    * narrow projection (the centroid table is a plan constant); the
    * per-cell cut is a `row_number <= perCell` filter that rewrites to
    * a PARTIAL WindowGroupLimit ahead of the exchange — each map task
    * reduces to ≤ perCell rows per cell before shuffling, so the
    * shuffle carries O(cells × perCell × partitions), never the
    * corpus.
    */
  def diversitySample(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 64, perCell: Int = 3
  ): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val index = buildIndex(corpus, idCol, vecCol, nlist)
    val assigned = assign(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), "v", index)
    val w = Window.partitionBy(col("cell"))
      .orderBy(xxhash64(col("id")), col("id"))
    assigned
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= perCell)
      .select(col("cell").cast("long").as("cell"),
        col("pos").cast("int").as("pos"), col("id"))
  }

  /** Persist the assigned corpus partitioned by cell id — the on-disk
    * index layout of the 100 TB path. One directory per cell means a
    * probe's `cell IN (...)` predicate prunes the scan to nProbe/nlist
    * of the files (asserted in IvfSpec).
    */
  def writeIndex(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** ANN top-k over a written index: compute each query's probe cells,
    * then scan ONLY those cells' partitions. Only the DISTINCT probe
    * cells are collected to the driver — at most nlist values, however
    * many queries are in the batch — to build the partition-pruning
    * `cell IN (...)` predicate; the (query, cell) probe frame itself
    * stays a lazy DataFrame on the broadcast side of the join, so a
    * large query batch never materializes queries×nProbe rows as a
    * driver-side Array (the broadcast relation is subject to Spark's
    * broadcast memory accounting instead). The probe projection (a
    * narrow map over the query batch) is evaluated twice — once for the
    * distinct cells, once in the join — which is cheaper than pinning
    * it for the lifetime of the query, but is only CORRECT when the two
    * evaluations agree: if the query frame contains a nondeterministic
    * expression (rand-derived ids, sampling), evaluation #2 could probe
    * a cell the pruning predicate from evaluation #1 never saw, and
    * that query would silently lose candidates. Such frames are
    * detected and probed WITHOUT cell pruning (full index scan —
    * correct, just unpruned). Sources that return different data across
    * two scans (a directory being concurrently rewritten) are not
    * detectable here; snapshot such inputs first.
    */
  def ivfTopKFromIndex(
      spark: SparkSession, indexPath: String, index: IvfIndex,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int = 8
  ): DataFrame = {
    val probeFrame = probeCells(queries, qidCol, qvecCol, index, nProbe)
    val deterministic = queries.queryExecution.analyzed
      .find(_.expressions.exists(!_.deterministic)).isEmpty
    val all = spark.read.parquet(indexPath)
    val corpus =
      if (deterministic) {
        val cells = probeFrame.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSeq
        all.filter(col("cell").isin(cells: _*))
      } else all
    rank(corpus.join(broadcast(probeFrame), Seq("cell"))
      .select(col("query_id"), col("id"),
        Similarity.cosine(col("v"), col("qv")).as("cosine")), k)
  }

  // ---------------------------------------------------------------------
  // Persisted int8 index — the build-once / probe-many serving split
  // ---------------------------------------------------------------------

  /** Index parameters persisted as `meta.txt` beside the data (the
    * [[Dedup.writeMinHashIndex]] contract): key=value lines, no parser
    * dependencies. A probe or append against mismatched parameters
    * would score in a silently different space — both validate against
    * this file and fail loudly instead.
    */
  private[operators] final case class Int8IndexMeta(nlist: Int, dim: Int)

  private[operators] object Int8IndexMeta {
    private def metaPath(path: String) =
      new org.apache.hadoop.fs.Path(s"$path/meta.txt")

    def write(spark: SparkSession, path: String, m: Int8IndexMeta): Unit = {
      val p = metaPath(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(
        s"format=ivf_int8\nnlist=${m.nlist}\ndim=${m.dim}\n".getBytes("UTF-8"))
      finally out.close()
    }

    def read(spark: SparkSession, path: String): Option[Int8IndexMeta] = {
      val p = metaPath(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val kv = text.linesIterator.filter(_.contains("="))
          .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
        require(kv.get("format").contains("ivf_int8"),
          s"$p is not an ivf_int8 index meta (format=${kv.get("format")})")
        Some(Int8IndexMeta(kv("nlist").toInt, kv("dim").toInt))
      }
    }
  }

  /** Build (or grow) the PERSISTED int8 IVF index — the serving shape
    * of a 100 TB ANN deployment, where the index is built once per
    * corpus refresh and probed by many query batches that must never
    * pay the build again ([[ivfInt8TopK]] recomputes centroids and
    * codes per call; fine in-session, wrong across sessions). Layout
    * under `path`:
    *
    *  - `cells/`: (id, cq) partitioned by `cell` — the int8 codes,
    *    stored as `array<tinyint>` (the honest 4× compression: one
    *    byte per element on disk; [[ivfInt8ProbeIndex]] widens back to
    *    the kernel's long lanes losslessly, every value is in
    *    [-127, 127] by construction). One directory per cell means a
    *    probe's `cell IN (...)` predicate prunes the scan to
    *    nProbe/nlist of the files.
    *  - `centroids/`: (cell, c array<double>) — the coarse quantizer,
    *    so a probe session reconstructs routing WITHOUT the corpus.
    *  - `meta.txt`: nlist + dim ([[Int8IndexMeta]]).
    *
    * `mode="append"` is the corpus-growth workflow: the increment is
    * assigned and quantized under the EXISTING centroids (read back
    * from `centroids/` — appending under fresh centroids would route
    * old and new vectors through different quantizers) and its code
    * rows append to `cells/`; centroids and meta are untouched.
    * Callers own id disjointness across increments, the
    * [[Dedup.writeMinHashIndex]] contract. Codes come from THIS
    * frame's projection, never a re-read of the index (the same
    * quadratic-append hazard documented there).
    *
    * Returns the [[IvfIndex]] the codes were written under, so an
    * in-session caller can probe without re-reading `centroids/`.
    */
  /** `refineIters > 0` (fresh builds only) runs [[refineCentroids]] —
    * spherical k-means — on the hash-sampled coarse quantizer before
    * anything is written: the DENSITY-ADAPTIVE training mode (the
    * hash sample is reproducible but distribution-agnostic; Lloyd
    * rounds move centroids into the corpus's actual density, which is
    * what a drifted-corpus refresh needs). Determinism caveat, stated
    * not hidden: the recenter step sums doubles distributively, so
    * refined centroids are deterministic for a FIXED partitioning but
    * not bit-portable across engines — catalog entries verified by
    * DuckDB/golden oracles keep `refineIters = 0` (the default); the
    * all-integer [[Pq.buildIndex]] refinement is the bit-replayable
    * variant. Append must reuse the persisted quantizers, so it
    * rejects `refineIters > 0`.
    */
  def writeInt8Index(
      corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 64, mode: String = "error",
      refineIters: Int = 0
  ): IvfIndex = {
    require(mode != "append" || refineIters == 0,
      "refineIters applies to fresh builds only — append must route " +
        "through the persisted centroids (rebuild fresh to retrain)")
    val spark = corpus.sparkSession
    if (mode == "append") {
      val existing = readInt8Index(spark, path) // throws if absent/foreign
      require(existing.nlist == nlist,
        s"index at $path was built with nlist=${existing.nlist}; " +
          s"cannot append with nlist=$nlist")
      appendInt8(corpus, idCol, vecCol, path, existing)
      return existing
    }
    val index = {
      val built = buildIndex(corpus, idCol, vecCol, nlist)
      if (refineIters > 0) refineCentroids(corpus, vecCol, built, refineIters)
      else built
    }
    // centroids + meta are written on the fresh build only; the two
    // dataset writes are independent (disjoint directories) — overlap
    // them (Actions scaladoc). Meta stays strictly LAST, preserving
    // the "meta present ⇒ index complete" reader contract.
    Actions.runConcurrently(
      () => {
        import spark.implicits._
        (0 until index.nlist).map { cell =>
          (cell, index.centroids.slice(cell * index.dim, (cell + 1) * index.dim).toSeq)
        }.toDF("cell", "c")
          .coalesce(1)
          .write.mode(mode).parquet(s"$path/centroids")
      },
      () => int8Assigned(corpus, idCol, vecCol, index)
        .select(col("id"), col("cell"), col("cq").cast("array<tinyint>").as("cq"))
        // co-locate cells before the partitioned write (the
        // writeMinHashIndex discipline): without this every task splits
        // into every cell — tasks × nlist small files at corpus scale
        .repartition(col("cell"))
        .write.mode(mode)
        // a fresh build must REPLACE cells/ wholesale: under a session's
        // partitionOverwriteMode=dynamic, cells empty in the new corpus
        // would keep their old files and probes would silently merge
        // stale ids scored under the new centroids
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell").parquet(s"$path/cells"))
    Int8IndexMeta.write(spark, path, Int8IndexMeta(index.nlist, index.dim))
    index
  }

  /** The append-mode assign+quantize+write over an ALREADY-READ coarse
    * quantizer — shared by [[writeInt8Index]]'s append mode and
    * [[ingestAnnBatchTo]] (which also probed with the same index object
    * and must not pay the centroid collect twice per fold step).
    */
  private def appendInt8(
      corpus: DataFrame, idCol: String, vecCol: String,
      path: String, index: IvfIndex
  ): Unit = {
    // EVERY row's dim must match — a mixed-dim increment's short
    // vectors the kernels silently truncate-score (min(len, dim)
    // loops), poisoning the persisted codes. The guard rides INSIDE
    // the assign/quantize projection ([[Similarity.requireDim]]): the
    // separate min/max aggregate it replaces paid one full extra scan
    // of the corpus-proportional embedding column per append (r19,
    // guide §1.2). A mismatch aborts the append job before its commit
    // — same fail-loudly / nothing-written contract, now raised from
    // the task instead of the driver.
    val guarded = corpus.withColumn(vecCol,
      Similarity.requireDim(col(vecCol), index.dim, s"at $path"))
    int8Assigned(guarded, idCol, vecCol, index)
      .select(col("id"), col("cell"), col("cq").cast("array<tinyint>").as("cq"))
      .repartition(col("cell"))
      .write.mode("append")
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell").parquet(s"$path/cells")
  }

  /** Reconstruct the coarse quantizer of a [[writeInt8Index]] index
    * from its `centroids/` + `meta.txt` — bounded at nlist × dim
    * doubles, never touches `cells/`. Fails loudly on a missing or
    * foreign meta file (a new format owes its readers strictness; the
    * pre-meta trust grandfathered into the MinHash probe does not
    * apply here).
    */
  def readInt8Index(spark: SparkSession, path: String): IvfIndex = {
    val meta = Int8IndexMeta.read(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no meta.txt under $path — not a written ivf_int8 index"))
    val rows = spark.read.parquet(s"$path/centroids")
      .select(col("cell").cast("int"), col("c").cast("array<double>"))
      .collect() // <= nlist rows by construction
    require(rows.length == meta.nlist,
      s"index at $path has ${rows.length} centroids, meta says ${meta.nlist}")
    val flat = new Array[Double](meta.nlist * meta.dim)
    rows.foreach { r =>
      val cell = r.getInt(0)
      val cvec = r.getSeq[Double](1)
      require(cell >= 0 && cell < meta.nlist, s"centroid cell $cell out of range")
      require(cvec.length == meta.dim,
        s"centroid $cell has dim ${cvec.length}, meta says ${meta.dim}")
      var j = 0
      while (j < meta.dim) { flat(cell * meta.dim + j) = cvec(j); j += 1 }
    }
    IvfIndex(flat, meta.dim, meta.nlist)
  }

  /** ANN top-k over a [[writeInt8Index]] index whose coarse quantizer
    * is already read ([[readInt8Index]]): route each query to its
    * nProbe cells with the PERSISTED centroids, scan ONLY those cells'
    * code files under `indexPath`, rank by the exact 64-bit integer
    * dot — the steady-state serving read, bit-identical in scores and
    * ranking to an in-session [[ivfInt8TopK]] over the same corpus and
    * parameters (both derive from the same assignment + quantization
    * projection; integer scoring has no accumulation-order freedom).
    * Partition pruning follows the [[ivfTopKFromIndex]] protocol
    * exactly — distinct probe cells (≤ nlist values) collect to the
    * driver for the `cell IN (...)` predicate, the probe frame itself
    * stays on the broadcast side, and a nondeterministic query frame
    * falls back to an unpruned (correct, full-index) scan; see that
    * scaladoc for the two-evaluation correctness argument.
    *
    * Callers probing the same persisted index repeatedly read the
    * quantizer once and skip the per-call centroid collect. The caller
    * owns index/path consistency. The `cells/` scan is created per
    * call, and like any parquet read it lists its files right then:
    * the returned frame sees the index as it stood at this call.
    */
  def ivfInt8ProbeIndex(
      spark: SparkSession, indexPath: String, index: IvfIndex,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int = 8
  ): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.nlist,
      s"nProbe $nProbe out of range for nlist=${index.nlist}")
    val probes = int8Probes(queries, qidCol, qvecCol, index, nProbe)
    val deterministic = queries.queryExecution.analyzed
      .find(_.expressions.exists(!_.deterministic)).isEmpty
    val all = spark.read.parquet(s"$indexPath/cells")
      .select(col("id"), col("cell"), col("cq").cast("array<bigint>").as("cq"))
    // nProbe == nlist probes every cell — the discovery collect would
    // be one wasted job ending in an always-true filter (the
    // exhaustive ingest-fold shape pays it per micro-batch)
    val assigned =
      if (deterministic && nProbe < index.nlist) {
        val cells = probes.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSeq // <= nlist values
        all.filter(col("cell").isin(cells: _*))
      } else all
    rankInt8Probes(assigned, probes, k)
  }

  /** One step of a SEQUENTIAL ANN-ingest fold — the
    * [[Dedup.ingestDedupBatchTo]] shape for vectors: probe `batch`'s
    * vectors against the persisted int8 index at `path` (top-k
    * neighbors among everything previously SEEN — the base corpus
    * plus every earlier increment), hand the neighbor frame to `sink`,
    * then append the batch itself under the index's FROZEN centroids.
    * Drive it from foreachBatch; micro-batches execute strictly in
    * sequence, so batch k retrieves against exactly batches < k —
    * which a one-shot probe cannot express.
    *
    * `index` is the coarse quantizer read ONCE per fold
    * ([[readInt8Index]] before the stream starts): append never
    * touches centroids/meta, so every step runs against one frozen
    * centroid set instead of paying the centroid collect per
    * micro-batch (r19, guide §1.2). The `cells/` scan inside the probe
    * is created per step, so each batch sees every earlier batch's
    * append. The caller owns index/path consistency.
    *
    * SINK-BEFORE-APPEND: `sink(neighbors)` must be an eager ACTION
    * over the frame (a parquet/noop write — it may not stash the
    * frame for later), and the probe is built and sunk strictly
    * BEFORE the append. A probe built after the append would score
    * the batch against its own just-appended vectors — every row's
    * neighbors would include its batch siblings (IvfSpec pins this).
    *
    * At-least-once replay (`batchId`): same contract as
    * [[Dedup.ingestDedupBatchTo]] — pass foreachBatch's id and a
    * replayed batch skips the append ([[Dedup.LastBatchMarker]],
    * equality-matched, written strictly after the append) and re-runs
    * the sink. A replayed probe then scores against an index already
    * holding the batch; the self-dot would win every row's rank 1, so
    * the probe over-fetches k+1, EXCLUDES exact id self-pairs, and
    * re-ranks — a singleton batch's replay emits bit-identically to
    * its first delivery (sibling vectors from the same multi-row batch
    * may still shift a replayed top-k; at-least-once emission stays
    * the caller's sink contract, keyed by batchId).
    *
    * `nProbe` >= the index's nlist (e.g. `Int.MaxValue`) probes every
    * cell: the retrieval is then the EXACT int8 top-k among seen
    * vectors — closed-form for an external oracle; production serving
    * uses a small nProbe, the [[ivfInt8ProbeIndex]] pruned path.
    */
  def ingestAnnBatchTo(
      spark: SparkSession, batch: DataFrame, idCol: String, vecCol: String,
      path: String, index: IvfIndex, k: Int, nProbe: Int,
      batchId: Option[Long], sink: DataFrame => Unit
  ): Unit = {
    val alreadyIngested = batchId.exists { id =>
      Dedup.LastBatchMarker.read(spark, path).contains(id)
    }
    val probe = math.min(nProbe, index.nlist)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("int_dot").desc, col("id").asc)
    // the sink action fully evaluates the probe against the
    // PRE-append cells/ — strictly before the append mutates them
    sink(ivfInt8ProbeIndex(spark, path, index, batch, idCol, vecCol, k + 1, probe)
      .filter(col("query_id") =!= col("id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k))
    if (!alreadyIngested) {
      appendInt8(batch, idCol, vecCol, path, index)
      batchId.foreach(Dedup.LastBatchMarker.write(spark, path, _))
    }
  }

  private def probeCells(
      queries: DataFrame, qidCol: String, qvecCol: String,
      index: IvfIndex, nProbe: Int
  ): DataFrame =
    queries
      .select(col(qidCol).as("query_id"), col(qvecCol).as("qv"))
      .withColumn("cell", explode(
        VectorFunctions.nearestCentroids(col("qv"), index.centroids, index.dim, nProbe)))

  private def rankProbes(
      assigned: DataFrame, queries: DataFrame, qidCol: String, qvecCol: String,
      index: IvfIndex, k: Int, nProbe: Int
  ): DataFrame =
    rank(assigned
      .join(broadcast(probeCells(queries, qidCol, qvecCol, index, nProbe)), Seq("cell"))
      .select(col("query_id"), col("id"),
        Similarity.cosine(col("v"), col("qv")).as("cosine")), k)

  private def rank(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
