package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class IvfSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
  private lazy val queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qv")).cache()

  /** One ANN-ingest fold step (k=5, every cell probed) through a sink
    * that collects: returns the (query_id, rank, id, int_dot) rows the
    * sink received.
    */
  private def ingest(
      batch: org.apache.spark.sql.DataFrame, dir: String, batchId: Long
  ): Set[(Long, Int, Long, Long)] = {
    var sunk = Set.empty[(Long, Int, Long, Long)]
    Ivf.ingestAnnBatchTo(spark, batch, "vec_id", "embedding", dir,
      Ivf.readInt8Index(spark, dir), k = 5, nProbe = Int.MaxValue,
      batchId = Some(batchId),
      sink = n => sunk = n.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("id"), r.getAs[Long]("int_dot"))).toSet)
    sunk
  }

  /** Probe the index written at `dir`. */
  private def probe(dir: String, qs: org.apache.spark.sql.DataFrame,
      k: Int, nProbe: Int = 8) =
    Ivf.ivfInt8ProbeIndex(spark, dir, Ivf.readInt8Index(spark, dir), qs,
      "qid", "qv", k, nProbe)

  test("index build is deterministic and well-shaped") {
    val a = Ivf.buildIndex(emb, "vec_id", "embedding", 32)
    val b = Ivf.buildIndex(emb, "vec_id", "embedding", 32)
    assert(a.centroids.toSeq == b.centroids.toSeq)
    assert(a.dim == 64)
    assert(a.nlist == 32)
  }

  test("cell assignment covers the corpus with bounded cells") {
    val index = Ivf.buildIndex(emb, "vec_id", "embedding", 32)
    val assigned = Ivf.assign(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", index)
    assert(assigned.count() == 500)
    val cells = assigned.select("cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 32))
    assert(cells.length > 8) // sampled centroids spread the corpus
  }

  test("diversitySample: per-cell cap, consistent cells, deterministic, WindowGroupLimit-bounded") {
    val s = Ivf.diversitySample(emb, "vec_id", "embedding", nlist = 64, perCell = 3)
    val rows = s.collect()
    // per-cell positions are dense 1..n with n <= perCell
    rows.groupBy(_.getLong(0)).foreach { case (cell, rs) =>
      val ps = rs.map(_.getInt(1)).sorted
      assert(ps.toSeq == (1 to ps.length), s"cell $cell positions not dense: ${ps.toSeq}")
      assert(ps.length <= 3, s"cell $cell over cap")
    }
    // every picked row's cell matches its own assignment
    val index = Ivf.buildIndex(emb, "vec_id", "embedding", 64)
    val assigned = Ivf.assign(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", index)
      .select(col("id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    rows.foreach(r => assert(assigned(r.getLong(2)) == r.getLong(0),
      s"id ${r.getLong(2)} sampled from cell ${r.getLong(0)} but assigned ${assigned(r.getLong(2))}"))
    // every non-empty cell is represented (coverage, the point of the op)
    assert(rows.map(_.getLong(0)).toSet == assigned.values.toSet)
    // deterministic across invocations
    val again = Ivf.diversitySample(emb, "vec_id", "embedding", nlist = 64, perCell = 3)
      .collect().map(_.toString).toSet
    assert(again == rows.map(_.toString).toSet)
    // scale guard: the per-cell cut is a Partial WindowGroupLimit ahead
    // of the cell exchange — a viral cell never ships whole
    val p = s.queryExecution.executedPlan.toString
    val lines = p.linesIterator.toIndexedSeq
    val pi = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(pi >= 0, s"no Partial WindowGroupLimit:\n$p")
  }

  test("written index prunes probe scans to nProbe cells' files; results unchanged") {
    val nlist = 32
    val nProbe = 4
    val index = Ivf.buildIndex(emb, "vec_id", "embedding", nlist)
    // coalesce(1): exactly one part file per cell dir, so the
    // files-read assertion below pins PRUNING, not the incidental
    // (task × cell) file layout of the source partitioning
    val assigned = Ivf.assign(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")).coalesce(1),
      "v", index)
    val dir = tempDir("ivf_index_").toString
    Ivf.writeIndex(assigned, dir)

    // one directory per occupied cell on disk
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val cellDirs =
      try listing.filter(_.getFileName.toString.startsWith("cell=")).count()
      finally listing.close()
    val occupiedCells = assigned.select("cell").distinct().count()
    assert(cellDirs == occupiedCells)

    val fromIndex = Ivf.ivfTopKFromIndex(spark, dir, index,
      queries.limit(1), "qid", "qv", k = 10, nProbe = nProbe)
    val rows = fromIndex.collect()

    // the scan must have read only the probed cells' files, not the
    // whole index: numFiles metric on the executed scan node (recurse
    // through AQE's leaf-like wrapper nodes)
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
    val scans = scansOf(fromIndex.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("ivf_index_")))
    assert(scans.nonEmpty, fromIndex.queryExecution.executedPlan.toString)
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead <= nProbe,
      s"probe read $filesRead files; expected <= $nProbe of $cellDirs cell dirs")

    // identical results to the in-memory probe path (same index/centroids)
    val inMemory = Ivf.ivfTopK(assigned, queries.limit(1), "qid", "qv", index,
      k = 10, nProbe = nProbe)
      .select("query_id", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fromDisk = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSet
    assert(fromDisk == inMemory)
  }

  test("ivfTopKFromIndex handles a large query batch without driver-side row materialization") {
    val nlist = 16
    val index = Ivf.buildIndex(emb, "vec_id", "embedding", nlist)
    val assigned = Ivf.assign(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", index)
    val dir = tempDir("ivf_index_big_").toString
    Ivf.writeIndex(assigned, dir)

    // 2000-query synthetic batch (4 shifted replicas of the corpus):
    // large enough that an Array[Row] materialization of queries×nProbe
    // would be the old driver-side path this test exists to forbid
    val big = emb.crossJoin(spark.range(4).select(col("id").as("rep")))
      .select((col("vec_id") + col("rep") * lit(10000L)).as("qid"),
        col("embedding").as("qv"))
    val res = Ivf.ivfTopKFromIndex(spark, dir, index, big, "qid", "qv",
      k = 3, nProbe = 2)

    // plan pin: the probe side must remain the lazy query-frame subtree.
    // The old implementation collect()ed the probe rows and re-created a
    // DataFrame from them, which surfaces as a LocalRelation/
    // LocalTableScan leaf in the plan — forbid that shape.
    val optimized = res.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val localLeaves = optimized.collect { case l: LocalRelation => l }
    assert(localLeaves.isEmpty,
      s"probe side was materialized driver-side:\n$optimized")

    // every query probes its own vector's cell, so every query finds at
    // least its self-match and all 2000 query ids come back ranked
    val perQuery = res.groupBy("query_id").count().collect()
    assert(perQuery.length == 2000)
    assert(perQuery.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
  }

  test("nondeterministic query frames probe without cell pruning (no silent drops)") {
    val nlist = 16
    val index = Ivf.buildIndex(emb, "vec_id", "embedding", nlist)
    val assigned = Ivf.assign(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", index)
    val dir = tempDir("ivf_index_nd_").toString
    Ivf.writeIndex(assigned, dir)

    // rand() makes the frame nondeterministic even though qid/qv are
    // stable — the pruning predicate and the join side could disagree,
    // so pruning must be skipped entirely
    val noisy = queries.withColumn("noise", rand())
    val res = Ivf.ivfTopKFromIndex(spark, dir, index, noisy, "qid", "qv",
      k = 3, nProbe = 2)
    res.collect()
    // the scan was NOT pruned: every index file was read
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
    val idxScans = scansOf(res.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("ivf_index_nd_")))
    assert(idxScans.nonEmpty)
    val allFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(idxScans.map(_.metrics("numFiles").value).sum == allFiles,
      "expected an unpruned scan under a nondeterministic query frame")
    // results identical to the deterministic frame's (noise is unused)
    val clean = Ivf.ivfTopKFromIndex(spark, dir, index, queries, "qid", "qv",
      k = 3, nProbe = 2)
      .select("query_id", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = res.select("query_id", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == clean)
  }

  test("ivfTopK finds the self-match and achieves reasonable recall") {
    val exact = Similarity.batchTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", 10)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = Ivf.buildIndex(emb, "vec_id", "embedding", nlist = 32)
    val assigned = Ivf.assign(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", index)
    val approx = Ivf.ivfTopK(assigned, queries, "qid", "qv", index, k = 10, nProbe = 8)
    val approxSet = approx.select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query probes its own cell -> always finds itself
    assert((0L until 5L).forall(q => approxSet.contains((q, q))))
    val recall = (exact intersect approxSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
    // candidates are a strict subset of the corpus -> fewer exact
    // comparisons than brute force
    assert(approx.count() <= 50)
  }

  test("persisted int8 index: probe is bit-identical to in-session, scan pruned to probed cells") {
    val dir = tempDir("ivf_int8_idx_").toString
    Ivf.writeInt8Index(emb, "vec_id", "embedding", dir, nlist = 32,
      mode = "overwrite")
    // tinyint codes on disk — the honest 4x compression
    val schema = spark.read.parquet(s"$dir/cells").schema("cq").dataType
    assert(schema.simpleString == "array<tinyint>", schema.simpleString)

    val nProbe = 4
    val fromDisk = probe(dir, queries, k = 10, nProbe = nProbe)
    val got = fromDisk.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("int_dot")))).toMap
    val inSession = Ivf.ivfInt8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, nlist = 32, nProbe = nProbe)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("int_dot")))).toMap
    assert(got == inSession, "disk probe diverged from the in-session composition")

    // the probe read ONLY the probed cells' code files (repartition by
    // cell at write time => exactly one file per cell dir)
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
    val oneQuery = probe(dir, queries.limit(1), k = 10, nProbe = nProbe)
    oneQuery.collect()
    val scans = scansOf(oneQuery.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("ivf_int8_idx_")))
    assert(scans.nonEmpty, oneQuery.queryExecution.executedPlan.toString)
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead <= nProbe,
      s"one-query probe read $filesRead files; expected <= $nProbe")
  }

  test("ingestAnnBatch: retrieves against everything SEEN, is eager before " +
      "the append, and a replayed batchId skips the re-append") {
    val dir = tempDir("ivf_ann_ingest_").toString
    val base = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val batch1 = emb.filter(pmod(col("vec_id"), lit(3)) === 1)
    val batch2 = emb.filter(pmod(col("vec_id"), lit(3)) === 2)
    Ivf.writeInt8Index(base, "vec_id", "embedding", dir, nlist = 32,
      mode = "overwrite")

    // expected: exact int8 top-k among SEEN (nProbe defaults to nlist =
    // exhaustive cells), self excluded — derived via the brute int8 scan
    def exactTopK(seen: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame, k: Int) =
      Similarity.int8TopK(seen, "vec_id", "embedding",
          batch.select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = Int.MaxValue - 1)
        .filter(col("query_id") =!= col("id"))
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
          r.getAs[Long]("int_dot")))
        .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
          rows.sortBy { case (_, id, d) => (-d, id) }.take(k).zipWithIndex
            .map { case ((_, id, d), i) => (q, i + 1, id, d) }
        }.toSet

    val got1 = ingest(batch1, dir, batchId = 0L)
    // batch2 ingests (and MUTATES the index) before got1 is checked —
    // the sink-before-append pin: a probe built after batch1's own
    // append would score batch1 against its siblings
    val got2 = ingest(batch2, dir, batchId = 1L)
    assert(got1 == exactTopK(base, batch1, 5),
      "batch1 must retrieve against the base corpus only")
    assert(got2 == exactTopK(base.unionByName(batch1), batch2, 5),
      "batch2 must retrieve against base + batch1")

    // replay of batch2: append skipped (code rows unchanged), emission
    // differs only through the index already holding batch2 — but
    // since self-pairs are excluded and batch2's own vectors can enter
    // a replayed top-k, assert the guard via the index contents
    val codesBefore = spark.read.parquet(s"$dir/cells").count()
    ingest(batch2, dir, batchId = 1L)
    assert(spark.read.parquet(s"$dir/cells").count() == codesBefore,
      "replayed batchId must not re-append code rows")
    // a SINGLETON batch replays bit-identically (self excluded, k+1
    // over-fetch re-ranked); fresh ids keep the index's id-disjointness
    // contract
    import spark.implicits._
    val single = Seq((10001L, (0 until 64).map(i => (i % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val s1 = ingest(single, dir, batchId = 2L)
    val s2 = ingest(single, dir, batchId = 2L)
    assert(s1 == s2, "singleton replay must emit identically")
    // fresh batchId appends again
    val codesAfterSingle = spark.read.parquet(s"$dir/cells").count()
    ingest(Seq((10002L, (0 until 64).map(i => (i % 5).toFloat)))
      .toDF("vec_id", "embedding"), dir, batchId = 3L)
    assert(spark.read.parquet(s"$dir/cells").count() == codesAfterSingle + 1L)
  }

  test("negative-hash seed half picks the same centroids as a full build " +
      "(the x_ann_index_grow grown==fresh invariant, pinned on real files)") {
    // the catalog's grow entry shares the fresh-full golden because the
    // seed (xxhash64(vec_id) < 0) provably contains the full corpus's
    // nlist hash-minima whenever it has >= nlist members — assert both
    // facts on the REAL testdata so a regenerated corpus fails HERE,
    // not as a silent correctness mismatch
    for (sf <- Seq("0.01", "0.1")) {
      val e = spark.read.parquet(s"/root/testdata/sf$sf/embeddings.parquet")
      val seed = e.filter(xxhash64(col("vec_id")) < 0)
      assert(seed.count() >= 64L,
        s"sf$sf: fewer than nlist=64 negative-hash rows — the grow " +
          "entry's seed/full centroid equality no longer holds")
      val full = Ivf.buildIndex(e, "vec_id", "embedding", 64)
      val sub = Ivf.buildIndex(seed, "vec_id", "embedding", 64)
      assert(sub.centroids.toSeq == full.centroids.toSeq,
        s"sf$sf: seed-built centroids differ from full-corpus centroids")
    }
  }

  test("persisted int8 index: append routes increments through the frozen centroids") {
    val dir = tempDir("ivf_int8_grow_").toString
    val embA = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val embB = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val idxA = Ivf.writeInt8Index(embA, "vec_id", "embedding", dir, nlist = 32)
    val idxAfter = Ivf.writeInt8Index(embB, "vec_id", "embedding", dir,
      nlist = 32, mode = "append")
    // append never rebuilds the quantizer
    assert(idxAfter.centroids.toSeq == idxA.centroids.toSeq)
    assert(Ivf.readInt8Index(spark, dir).centroids.toSeq == idxA.centroids.toSeq)

    // expected: the full int8 MIPS scan over A∪B, restricted to the
    // cells each query probes UNDER A's CENTROIDS (the existing
    // ivfInt8TopK spec pattern — independent of the probe-join and
    // disk machinery)
    val cells = Ivf.assign(
        emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", idxA)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), graft.functions.VectorFunctions.nearestCentroids(
        col("embedding"), idxA.centroids, idxA.dim, 4).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val full = Similarity.int8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = Int.MaxValue - 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Long]("int_dot")))
    val expect = full
      .filter { case (q, id, _) => probes(q).contains(cells(id)) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, id, d) => (-d, id) }.take(10).zipWithIndex
          .map { case ((_, id, d), i) => (q, i + 1) -> ((id, d)) }
      }.toMap
    val got = probe(dir, queries, k = 10, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("int_dot")))).toMap
    assert(got == expect)
    // both increments are retrievable (B's vectors probe their own cell)
    val ids = got.values.map(_._1).toSet
    assert(ids.exists(id => id % 5 == 0) && ids.exists(id => id % 5 != 0))

    // meta guards fail loudly
    intercept[IllegalArgumentException](
      Ivf.writeInt8Index(embB, "vec_id", "embedding", dir, nlist = 16,
        mode = "append"))
    import spark.implicits._
    // the dim guard rides inside the encode projection (a per-row
    // raise, not a separate aggregate scan — r19), so a mismatch
    // surfaces as a task-raised failure of the append job; the index
    // must still gain nothing (the job aborts before its commit)
    def assertDimGuard(t: Throwable): Unit = {
      val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("!= index dim"),
        s"expected the dim-guard raise in the failure chain, got: $msgs")
    }
    val cellRows = spark.read.parquet(s"$dir/cells").count()
    val badDim = Seq((900001L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    assertDimGuard(intercept[Exception](
      Ivf.writeInt8Index(badDim, "vec_id", "embedding", dir, nlist = 32,
        mode = "append")))
    // MIXED dims must also fail even when some rows match the index dim
    // (the guard is per-row, never a one-row sample — the kernels would
    // silently truncate-score the short vectors)
    val goodRow = embB.select(col("vec_id"), col("embedding")).limit(1)
    val mixedDim = goodRow.unionByName(
      goodRow.select(col("vec_id") + 900002L as "vec_id",
        expr("slice(embedding, 1, 3)").as("embedding")))
    assertDimGuard(intercept[Exception](
      Ivf.writeInt8Index(mixedDim, "vec_id", "embedding", dir, nlist = 32,
        mode = "append")))
    // nothing from the failed appends became visible
    assert(spark.read.parquet(s"$dir/cells").count() == cellRows,
      "a failed append must not grow cells/")
    val notAnIndex = tempDir("not_idx_").toString
    intercept[IllegalArgumentException](
      probe(notAnIndex, queries, k = 5))
  }

  test("ivfInt8TopK equals int8TopK restricted to the probed cells") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val composed = Ivf.ivfInt8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, nlist = 64, nProbe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("int_dot")))).toMap

    // replay the routing (assign + probes), then rank via the full
    // int8 scan filtered to the candidate set — same integer scores
    val index = Ivf.buildIndex(emb, "vec_id", "embedding", 64)
    val cells = Ivf.assign(
        emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", index)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = Similarity.int8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = Int.MaxValue - 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Long]("int_dot")))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), graft.functions.VectorFunctions.nearestCentroids(
        col("embedding"), index.centroids, index.dim, 8).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val expect = full
      .filter { case (q, id, _) => probes(q).contains(cells(id)) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, id, d) => (-d, id) }.take(10).zipWithIndex
          .map { case ((_, id, d), i) => (q, i + 1) -> ((id, d)) }
      }.toMap
    assert(composed == expect)
    // plan: probes broadcast, per-query cut pre-reduced, no cartesian
    val plan = Ivf.ivfInt8TopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("writeInt8Index refineIters: refined centroids persist and probe; append rejected") {
    val dir = tempDir("ivf_refined_").toString
    val emb2 = emb.limit(100)
    val refined = Ivf.writeInt8Index(emb2, "vec_id", "embedding", s"$dir/idx",
      nlist = 8, mode = "overwrite", refineIters = 2)
    // the persisted centroids are the REFINED ones (read-back equality)
    val back = Ivf.readInt8Index(spark, s"$dir/idx")
    assert(back.centroids.toSeq == refined.centroids.toSeq)
    // and they differ from the raw hash sample (Lloyd moved something)
    val raw = Ivf.buildIndex(emb2, "vec_id", "embedding", nlist = 8)
    assert(!raw.centroids.sameElements(refined.centroids))
    // probing round-trips
    val res = probe(s"$dir/idx",
      emb2.filter(org.apache.spark.sql.functions.col("vec_id") < 2)
        .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
          org.apache.spark.sql.functions.col("embedding").as("qv")),
      k = 3, nProbe = 2)
    assert(res.count() > 0)
    // append must reuse the persisted quantizers, never retrain
    intercept[IllegalArgumentException] {
      Ivf.writeInt8Index(emb2, "vec_id", "embedding", s"$dir/idx",
        nlist = 8, mode = "append", refineIters = 1)
    }
  }

  test("ingestAnnBatchTo: the append grows the index by the full batch, and " +
      "a replayed multi-row batchId re-sinks without re-appending") {
    val dir = tempDir("ivf_ann_to").toString
    val base = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val batch1 = emb.filter(pmod(col("vec_id"), lit(3)) === 1)
    Ivf.writeInt8Index(base, "vec_id", "embedding", dir, nlist = 32,
      mode = "overwrite")
    ingest(batch1, dir, batchId = 0L)
    val rowsAfter = spark.read.parquet(s"$dir/cells").count()
    assert(rowsAfter == base.count() + batch1.count(),
      "the append must grow the index by the full batch")
    val replayed = ingest(batch1, dir, batchId = 0L)
    assert(replayed.nonEmpty)
    assert(spark.read.parquet(s"$dir/cells").count() == rowsAfter,
      "a replayed batch must not re-append")
  }
}
