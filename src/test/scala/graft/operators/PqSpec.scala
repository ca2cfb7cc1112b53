package graft.operators

import graft.SparkTestBase
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class PqSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200).cache()
  private lazy val queries = emb.filter(col("vec_id") < 3)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Probe the index written at `dir`. */
  private def probe(dir: String, qs: org.apache.spark.sql.DataFrame,
      k: Int, nProbe: Int) =
    Pq.probeIndex(Pq.readIndex(spark, dir), qs, "qid", "qv", k, nProbe)

  /** One PQ-ingest fold step (k=3, nProbe=3) through a sink that
    * collects: returns the neighbor rows the sink received.
    */
  private def ingest(
      batch: org.apache.spark.sql.DataFrame, idx: String,
      batchId: Option[Long] = None, maxQueries: Int = Int.MaxValue
  ): Array[org.apache.spark.sql.Row] = {
    var sunk = Array.empty[org.apache.spark.sql.Row]
    Pq.ingestBatchTo(spark, batch, "vec_id", "embedding", idx,
      Pq.readIndex(spark, idx), k = 3, nProbe = 3, batchId = batchId,
      maxQueries = maxQueries, sink = n => sunk = n.collect())
    sunk
  }

  test("pqCodebook is a complete (subspace, code) grid with dense codes") {
    val cb = Pq.pqCodebook(emb, "vec_id", "embedding", m = 8, ncode = 16)
    val rows = cb.collect()
    assert(rows.length == 8 * 16)
    val bySub = rows.groupBy(_.getInt(0))
    assert(bySub.keySet == (0 until 8).toSet)
    bySub.values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (0 until 16))
      g.foreach(r => assert(r.getSeq[Long](2).length == 8)) // dim 64 / m 8
    }
  }

  test("pqCodebook caps at corpus size when ncode exceeds it; deterministic") {
    val tiny = emb.limit(5)
    val cb1 = Pq.pqCodebook(tiny, "vec_id", "embedding", m = 4, ncode = 256)
    val cb2 = Pq.pqCodebook(tiny, "vec_id", "embedding", m = 4, ncode = 256)
    assert(cb1.count() == 4 * 5)
    assert(cb1.collect().map(_.toString).sorted.toSeq ==
      cb2.collect().map(_.toString).sorted.toSeq)
  }

  test("pqEncode emits one code per subspace, all within the codebook") {
    val cb = Pq.pqCodebook(emb, "vec_id", "embedding", m = 8, ncode = 16)
    val enc = Pq.pqEncode(emb, "vec_id", "embedding", cb, m = 8).collect()
    assert(enc.length == emb.count())
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 8)
      assert(codes.forall(c => c >= 0 && c < 16))
    }
  }

  test("with ncode >= corpus size PQ-ADC ranking equals the int8 dot ranking") {
    // every vector's nearest codeword per subspace is (a copy of) its own
    // int8 subvector at distance 0, so the ADC sum reconstructs the full
    // int8 dot EXACTLY — the strongest internal-consistency property the
    // family has, and it pins encode, LUT indexing, and the score fold
    val pq = Pq.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
        m = 8, ncode = 1024, k = 10)
      .select(col("query_id"), col("id"), col("adc_dot"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getLong(2))).toMap
    val i8 = Similarity.int8TopK(emb, "vec_id", "embedding", queries, "qid", "qv", k = 10)
      .select(col("query_id"), col("id"), col("int_dot"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pq.keySet == i8.keySet)
    pq.foreach { case (key, v) => assert(i8(key) == v) }
  }

  test("compressed regime: rows are queries x k, ranks dense, scores non-increasing") {
    val pq = Pq.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
      m = 8, ncode = 16, k = 10)
    val byQ = pq.collect().groupBy(_.getLong(0))
    assert(byQ.keySet.size == 3)
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
      val scores = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("adc_dot"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivfPqTopK with exhaustive probing equals the flat PQ scan exactly") {
    // nProbe = nlist makes routing a no-op (every cell probed), so the
    // candidate set is the whole corpus and the ADC ranking must be
    // bit-identical to pqTopK — pinning the cell assignment join, the
    // probe join, and the shared LUT/score path in one equality
    val flat = Pq.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
        m = 8, ncode = 64, k = 10)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("rank")) ->
        (r.getLong(1), r.getAs[Long]("adc_dot"))).toMap
    val ivf = Pq.ivfPqTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
        m = 8, ncode = 64, nlist = 16, nProbe = 16, k = 10)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("rank")) ->
        (r.getLong(1), r.getAs[Long]("adc_dot"))).toMap
    assert(ivf == flat)
  }

  test("ivfPqTopK pruned probing returns a subset of cells' candidates, ranks dense") {
    val res = Pq.ivfPqTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
      m = 8, ncode = 16, nlist = 16, nProbe = 2, k = 10)
    val byQ = res.collect().groupBy(_.getLong(0))
    assert(byQ.keySet.size == 3)
    byQ.values.foreach { g =>
      val ranks = g.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length)) // dense even when < k candidates
      val scores = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("adc_dot"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("persisted PQ index: probe is bit-identical to in-session, scan pruned to probed cells") {
    val dir = tempDir("ivf_pq_idx_").toString
    // about one range-partitioned file per cell: 16 shuffle partitions,
    // not coalesced
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      withConf("spark.sql.shuffle.partitions", "16") {
        Pq.writeIndex(emb, "vec_id", "embedding", dir,
          m = 8, ncode = 32, nlist = 16, mode = "overwrite")
      }
    }
    // tinyint payloads on disk — the honest 1-byte-per-subspace codes
    assert(spark.read.parquet(s"$dir/cells").schema("codes")
      .dataType.simpleString == "array<tinyint>")
    assert(spark.read.parquet(s"$dir/codebook").schema("cw")
      .dataType.simpleString == "array<tinyint>")

    val nProbe = 4
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("adc_dot")))).toMap
    val fromDisk = keyed(probe(dir, queries, k = 10, nProbe = nProbe))
    val inSession = keyed(Pq.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", m = 8, ncode = 32, nlist = 16,
      nProbe = nProbe, k = 10))
    assert(fromDisk == inSession,
      "disk probe diverged from the in-session composition")

    // the probe read ONLY the files whose cell range holds a probed cell
    val one = queries.limit(1)
    val oneQuery = probe(dir, one, k = 10, nProbe = nProbe)
    oneQuery.collect()
    val scans = scansOf(oneQuery.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("ivf_pq_idx_")))
    assert(scans.nonEmpty, oneQuery.queryExecution.executedPlan.toString)
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val files = graft.sources.IndexManifest.read(spark, dir).get.filesOf("cells")
    val probed = Pq.routed(Pq.readIndex(spark, dir), one, "qid", "qv", nProbe)
      .select("cell").collect().map(_.getInt(0)).toSet
    val hit = files.count(_.range.forall { case (lo, hi) =>
      probed.exists(c => c >= lo && c <= hi) })
    assert(filesRead <= hit && filesRead < files.size,
      s"one-query probe read $filesRead files; $hit of ${files.size} hold a probed cell")
  }

  test("persisted PQ index: seed-then-append equals the fresh full build") {
    import org.apache.spark.sql.functions.{col => c}
    // equality needs the seed to own BOTH hash-sample minima sets (the
    // x_ann_index_grow convention): codebook = 32 smallest (salt 0),
    // centroids = 16 smallest (salt 7). Everything else can arrive in
    // the increment — it encodes/routes under the frozen quantizers.
    val ranked = emb.select(c("vec_id"),
      Sampling.hashRank(c("vec_id")).as("h0"),
      Sampling.hashRank(c("vec_id"), salt = 7L).as("h7"))
    val cbIds = ranked.orderBy(c("h0"), c("vec_id")).limit(32)
      .collect().map(_.getLong(0)).toSet
    val ctIds = ranked.orderBy(c("h7"), c("vec_id")).limit(16)
      .collect().map(_.getLong(0)).toSet
    val seedIds = cbIds ++ ctIds
    val seed = emb.filter(c("vec_id").isin(seedIds.toSeq: _*) ||
      c("vec_id") % 2 === 0)
    val rest = emb.exceptAll(seed)

    val grown = tempDir("ivf_pq_grow_").toString
    Pq.writeIndex(seed, "vec_id", "embedding", grown,
      m = 8, ncode = 32, nlist = 16, mode = "overwrite")
    Pq.writeIndex(rest, "vec_id", "embedding", grown,
      m = 8, ncode = 32, nlist = 16, mode = "append")
    val fresh = tempDir("ivf_pq_full_").toString
    Pq.writeIndex(emb, "vec_id", "embedding", fresh,
      m = 8, ncode = 32, nlist = 16, mode = "overwrite")

    def keyed(dir: String) = probe(dir, queries, k = 10, nProbe = 16).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("adc_dot")))).toMap
    assert(keyed(grown) == keyed(fresh))

    // appends under mismatched parameters must fail loudly, not mix spaces
    intercept[IllegalArgumentException] {
      Pq.writeIndex(rest, "vec_id", "embedding", grown,
        m = 4, ncode = 32, nlist = 16, mode = "append")
    }
  }

  // The relational query-side forms that Kernels.pqQueryLut and
  // Kernels.pqRouteCells replaced, kept here as the reference the
  // kernels must reproduce row for row.

  /** Per-query LUTs by a broadcast codebook join + sorted collect. */
  private def joinLuts(qs: DataFrame, idx: Pq.PqIndex): DataFrame = {
    val sub = floor(size(col("__q")) / lit(idx.m)).cast("int")
    Pq.quantized(qs, "qid", "qv")
      .select(col("query_id"), posexplode(transform(sequence(lit(0), lit(idx.m - 1)),
        j => slice(col("__q"), j * sub + 1, sub))))
      .withColumnRenamed("pos", "subspace")
      .join(broadcast(idx.codebook), Seq("subspace"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("subspace"), col("code"),
        VectorFunctions.dotLong(col("col"), col("cw")).as("d")))), s => s.getField("d")).as("lut"))
  }

  /** (query_id, cell) routes by a broadcast nested-loop join against
    * the centroids + a row_number window.
    */
  private def joinRouted(idx: Pq.PqIndex, qs: DataFrame, nProbe: Int): DataFrame = {
    val cents = idx.centroids
      .withColumn("__cc", aggregate(col("ccode"), lit(0L), (a, v) => a + v * v))
    Pq.quantized(qs, "qid", "qv")
      .crossJoin(broadcast(cents))
      .withColumn("__d",
        col("__cc") - lit(2L) * VectorFunctions.dotLong(col("__q"), col("ccode")))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("__d").asc, col("cell").asc)))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("cell"))
  }

  /** adcTopK over the join forms. */
  private def joinAdcTopK(idx: Pq.PqIndex, qs: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val luts = joinLuts(qs, idx)
    val candidates =
      if (nProbe >= idx.nlist) idx.encoded.crossJoin(broadcast(luts))
      else idx.encoded.join(
        broadcast(joinRouted(idx, qs, nProbe).join(luts, Seq("query_id"))), Seq("cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_dot").desc, col("id").asc)
    candidates
      .select(col("query_id"), col("id"),
        VectorFunctions.adcLong(col("codes"), col("lut"), idx.nc).as("adc_dot"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** `n` seeded random query vectors of length `dim` (their int8 codes
    * are random), then the edge cases: null elements, a null vector,
    * vectors shorter than dim and than m, an empty one, one longer
    * than dim, and an all-zero one (every distance is then the cell's
    * cc, so equal centroids tie).
    */
  private def randomQueries(seed: Long, n: Int, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def vec(len: Int): Seq[java.lang.Double] =
      Seq.fill(len)(java.lang.Double.valueOf(rnd.nextGaussian()))
    val rows = (0 until n).map(i => Row(i.toLong, vec(dim))) ++ Seq(
      Row(n + 0L, vec(dim).updated(3, null).updated(17, null)),
      Row(n + 1L, null),
      Row(n + 2L, vec(dim - 5)),
      Row(n + 3L, vec(3)),
      Row(n + 4L, Seq.empty[java.lang.Double]),
      Row(n + 5L, vec(dim + 9)),
      Row(n + 6L, Seq.fill(dim)(java.lang.Double.valueOf(0.0))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("qid", LongType), StructField("qv", ArrayType(DoubleType)))))
  }

  /** `idx` with a coarse quantizer whose cells 1–3 repeat cell 0 and
    * whose cell 5 repeats cell 4, so routing meets exact distance ties.
    */
  private def dupCentroids(idx: Pq.PqIndex): Pq.PqIndex = {
    val d = idx.dim
    val flat = idx.centroidsFlat.clone()
    (1 to 3).foreach(c => System.arraycopy(flat, 0, flat, c * d, d))
    System.arraycopy(flat, 4 * d, flat, 5 * d, d)
    val cents = (0 until flat.length / d).map(c => (c, flat.slice(c * d, (c + 1) * d).toSeq))
    idx.copy(centroids = cents.toDF("cell", "ccode"), centroidsFlat = flat)
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private lazy val persisted: String = {
    val dir = tempDir("pq_kernel_idx_").toString
    Pq.writeIndex(emb, "vec_id", "embedding", dir, m = 8, ncode = 32, nlist = 16,
      mode = "overwrite")
    dir
  }

  test("query-side kernels equal the join forms they replaced: LUTs, routes, adcTopK rows") {
    val built = Pq.buildIndex(emb, "vec_id", "embedding", m = 8, ncode = 32, nlist = 16)
    // plus one query equal to centroid 0's codes: its distance to cells
    // 0–3 of dupCentroids is the exact minimum, a four-way tie
    val atCell0 = Seq((1000L, built.centroidsFlat.take(built.dim).map(_.toDouble).toSeq))
      .toDF("qid", "qv")
    val qs = randomQueries(seed = 17L, n = 40, dim = built.dim).union(atCell0).cache()
    try {
      for (idx <- Seq(built, dupCentroids(built))) {
        assert(sortedRows(Pq.quantized(qs, "qid", "qv")
          .select(col("query_id"), Pq.queryLut(idx).as("lut"))) == sortedRows(joinLuts(qs, idx)))
        for (nProbe <- Seq(1, 2, 5, 16)) {
          assert(sortedRows(Pq.routed(idx, qs, "qid", "qv", nProbe)) ==
            sortedRows(joinRouted(idx, qs, nProbe)), s"routes differ at nProbe=$nProbe")
          assert(sortedRows(Pq.adcTopK(idx, qs, "qid", "qv", 5, nProbe)) ==
            sortedRows(joinAdcTopK(idx, qs, 5, nProbe)), s"adcTopK differs at nProbe=$nProbe")
        }
      }
      // the tie is real, and the smaller cells win it
      def routesOf(nProbe: Int) = Pq.routed(dupCentroids(built), qs, "qid", "qv", nProbe)
        .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
      assert(routesOf(1)(1000L) == Set(0) && routesOf(2)(1000L) == Set(0, 1))
      assert(routesOf(2).values.forall(r => !r.exists(Set(1, 2, 3)) || r.contains(0)))

      // interpreted eval agrees with the codegen'd projection, null query included
      import org.apache.spark.sql.catalyst.expressions.Literal
      import graft.functions.{PqLutExpr, PqRouteExpr}
      val sub = built.codebookFlat.length / (built.m * built.nc)
      Pq.quantized(qs, "qid", "qv")
        .select(col("__q"), Pq.queryLut(built).as("lut"), Pq.routeCells(built, 5).as("cells"))
        .collect().foreach { r =>
          val q = Literal.create(r.get(0), ArrayType(LongType))
          val lut = PqLutExpr(q, built.codebookFlat, built.m, built.nc, sub).eval()
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toSeq[Any](LongType)
          val cells = PqRouteExpr(q, built.centroidsFlat, built.dim, 5).eval()
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toSeq[Int](IntegerType)
          assert(lut.map(String.valueOf) == r.getSeq[Any](1).map(String.valueOf), r)
          assert(cells == r.getSeq[Int](2), r)
        }
    } finally { qs.unpersist(); () }
  }

  test("probeIndex over the kernels equals the join-form probe over a persisted index") {
    val idx = Pq.readIndex(spark, persisted)
    val qs = randomQueries(seed = 29L, n = 40, dim = idx.dim)
    val nProbe = 4
    val joinForm = joinAdcTopK(idx.copy(encoded = Ivf.pruneToProbed(idx.encoded, qs,
      joinRouted(idx, qs, nProbe), exhaustive = false)), qs, 5, nProbe)
    assert(sortedRows(Pq.probeIndex(idx, qs, "qid", "qv", k = 5, nProbe = nProbe)) ==
      sortedRows(joinForm))
  }

  test("probeIndex's plan: no nested-loop join, object-hash aggregate or sort-merge join, " +
      "and one shuffle exchange, the top-k's") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
    val idx = Pq.readIndex(spark, persisted)
    val probed = Pq.probeIndex(idx, randomQueries(seed = 31L, n = 40, dim = idx.dim),
      "qid", "qv", k = 5, nProbe = 4)
    assert(probed.collect().nonEmpty)
    val plan = probed.queryExecution.executedPlan
    val nodes = planNodes(plan)
    assert(!nodes.exists {
      case _: BroadcastNestedLoopJoinExec | _: ObjectHashAggregateExec | _: SortMergeJoinExec => true
      case _ => false
    }, plan.toString)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, plan.toString)
  }

  test("adcLong kernel: flat LUT lookup sum; out-of-range codes contribute 0") {
    val df = Seq((Seq(0, 1, 5), Seq(10L, 20L, 30L, 40L))).toDF("codes", "lut")
    // nc = 2: j=0,c=0 -> lut[0]=10; j=1,c=1 -> lut[3]=40; j=2,c=5 -> idx 9
    // out of range -> 0 (understates, never crashes)
    val v = df.select(graft.functions.VectorFunctions
      .adcLong(col("codes"), col("lut"), 2).as("s")).collect()(0).getLong(0)
    assert(v == 50L)
  }

  test("encode tie-break: identical vectors share codes; smaller code wins ties") {
    val dup = Seq(
      (1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(8)(1.0f)),
      (3L, Seq.tabulate(8)(i => if (i < 4) 1.0f else -1.0f))).toDF("id", "v")
    val cb = Pq.pqCodebook(dup, "id", "v", m = 2, ncode = 8)
    val enc = Pq.pqEncode(dup, "id", "v", cb, m = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // ids 1 and 2 are byte-identical so their subvectors tie against both
    // copies in the codebook — both must resolve to the SAME smallest code
    assert(enc(1L) == enc(2L))
  }

  // --- density-adaptive (integer Lloyd) training --------------------------

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  private def cbFlat(rows: Array[org.apache.spark.sql.Row], groups: Int)
  : (Array[Long], Int, Int) = {
    val nc = rows.length / groups
    val sub = rows.head.getSeq[Long](2).length
    val flat = new Array[Long](groups * nc * sub)
    rows.foreach { r =>
      val base = (r.getInt(0) * nc + r.getInt(1)) * sub
      val vs = r.getSeq[Long](2)
      var i = 0
      while (i < sub) { flat(base + i) = vs(i); i += 1 }
    }
    (flat, nc, sub)
  }

  test("integer Lloyd refinement is partitioning-independent (bit-identical grids)") {
    def grids(df: org.apache.spark.sql.DataFrame) = {
      val idx = Pq.buildIndex(df, "vec_id", "embedding",
        m = 8, ncode = 16, nlist = 8, refineIters = 2)
      (idx.codebook.collect().map(_.toString).sorted.toSeq,
        idx.centroids.collect().map(_.toString).sorted.toSeq)
    }
    val (cb1, ct1) = grids(emb.repartition(1))
    val (cb7, ct7) = grids(emb.repartition(7))
    assert(cb1 == cb7)
    assert(ct1 == ct7)
  }

  test("refinement never increases encode SSE vs the hash-sampled init") {
    val init = Pq.buildIndex(emb, "vec_id", "embedding",
      m = 8, ncode = 16, nlist = 8, refineIters = 0)
    val refined = Pq.buildIndex(emb, "vec_id", "embedding",
      m = 8, ncode = 16, nlist = 8, refineIters = 3)
    val (f0, nc0, sub0) = cbFlat(init.codebook.collect(), 8)
    val (f3, nc3, sub3) = cbFlat(refined.codebook.collect(), 8)
    assert((nc0, sub0) == (nc3, sub3))
    val sse0 = Pq.gridSse(emb, "embedding", f0, 8, nc0, sub0)
    val sse3 = Pq.gridSse(emb, "embedding", f3, 8, nc3, sub3)
    assert(sse3 <= sse0, s"refined SSE $sse3 > init SSE $sse0")
    // and at least one codeword must actually have moved on real data
    assert(!f0.sameElements(f3))
  }

  test("refined persisted index: probe is bit-identical to the in-session build") {
    val dir = tempDir("pq_refined").toString
    try {
      Pq.writeIndex(emb, "vec_id", "embedding", s"$dir/idx",
        m = 8, ncode = 16, nlist = 8, mode = "overwrite", refineIters = 2)
      val fromDisk = probe(s"$dir/idx", queries, k = 5, nProbe = 3)
        .select(col("query_id"), col("id"), col("adc_dot"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
      val inSession = Pq.adcTopK(
          Pq.buildIndex(emb, "vec_id", "embedding",
            m = 8, ncode = 16, nlist = 8, refineIters = 2),
          queries, "qid", "qv", k = 5, nProbe = 3)
        .select(col("query_id"), col("id"), col("adc_dot"), col("rank"))
        .collect().map(_.toString).sorted.toSeq
      assert(fromDisk == inSession)
    } finally rmTree(dir)
  }

  test("refineIters is rejected on append (must reuse persisted quantizers)") {
    val dir = tempDir("pq_refined_app").toString
    try {
      Pq.writeIndex(emb, "vec_id", "embedding", s"$dir/idx",
        m = 8, ncode = 16, nlist = 8, mode = "overwrite")
      intercept[IllegalArgumentException] {
        Pq.writeIndex(emb, "vec_id", "embedding", s"$dir/idx",
          m = 8, ncode = 16, nlist = 8, mode = "append", refineIters = 1)
      }
    } finally rmTree(dir)
  }

  // --- the pruned-probe ingest fold ---------------------------------------

  test("ingestBatch: neighbors come from SEEN vectors only, appends grow the index") {
    val dir = tempDir("pq_ingest").toString
    try {
      val seed = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val b1 = emb.filter(pmod(col("vec_id"), lit(4)) === 1)
      val b2 = emb.filter(pmod(col("vec_id"), lit(4)) === 2)
      Pq.writeIndex(seed, "vec_id", "embedding", s"$dir/idx",
        m = 8, ncode = 16, nlist = 8, mode = "overwrite")
      val n1 = ingest(b1, s"$dir/idx", batchId = Some(0L))
      // batch 1 retrieves against the seed only
      assert(n1.nonEmpty)
      n1.foreach { r =>
        assert(r.getLong(0) % 4 == 1) // query from the batch
        assert(r.getLong(1) % 4 == 0) // neighbor from the seed
      }
      val n2 = ingest(b2, s"$dir/idx", batchId = Some(1L))
      // batch 2 sees seed + batch 1 — and nothing from itself
      assert(n2.forall(r => r.getLong(1) % 4 != 2))
      assert(n2.exists(r => r.getLong(1) % 4 == 1),
        "after the first append, batch-1 vectors must be retrievable")
    } finally rmTree(dir)
  }

  test("ingestBatch replay: same batchId skips the re-append, singleton emits identically") {
    val dir = tempDir("pq_ingest_rep").toString
    try {
      val seed = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val one = emb.filter(col("vec_id") === 1)
      Pq.writeIndex(seed, "vec_id", "embedding", s"$dir/idx",
        m = 8, ncode = 16, nlist = 8, mode = "overwrite")
      val first = ingest(one, s"$dir/idx", batchId = Some(7L))
        .map(_.toString).sorted.toSeq
      val rowsAfter = spark.read.parquet(s"$dir/idx/cells").count()
      val replay = ingest(one, s"$dir/idx", batchId = Some(7L))
        .map(_.toString).sorted.toSeq
      assert(replay == first, "a replayed singleton batch must emit bit-identically")
      assert(spark.read.parquet(s"$dir/idx/cells").count() == rowsAfter,
        "a replayed batch must not re-append")
    } finally rmTree(dir)
  }

  test("ingestBatch maxQueries caps the retrieval slice at the hashRank minima") {
    val dir = tempDir("pq_ingest_cap").toString
    try {
      val seed = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 1)
      Pq.writeIndex(seed, "vec_id", "embedding", s"$dir/idx",
        m = 8, ncode = 16, nlist = 8, mode = "overwrite")
      val expected = batch
        .orderBy(Sampling.hashRank(col("vec_id")), col("vec_id")).limit(5)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val n = ingest(batch, s"$dir/idx", maxQueries = 5)
      assert(n.map(_.getLong(0)).toSet.subsetOf(expected))
      // the append still ingested the FULL batch
      assert(spark.read.parquet(s"$dir/idx/cells").count() ==
        seed.count() + batch.count())
    } finally rmTree(dir)
  }

  test("ingestBatchTo: the append grows the index by the full batch, and " +
      "a replayed multi-row batchId re-sinks without re-appending") {
    val dir = tempDir("pq_ingest_to").toString
    try {
      val seed = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val b1 = emb.filter(pmod(col("vec_id"), lit(4)) === 1)
      Pq.writeIndex(seed, "vec_id", "embedding", s"$dir/idx",
        m = 8, ncode = 16, nlist = 8, mode = "overwrite")
      val first = ingest(b1, s"$dir/idx", batchId = Some(0L))
      val rowsAfter = spark.read.parquet(s"$dir/idx/cells").count()
      assert(rowsAfter == seed.count() + b1.count(),
        "the append must grow the index by the full batch")
      // replay: same batchId re-runs the sink, does not re-append
      val replayed = ingest(b1, s"$dir/idx", batchId = Some(0L))
      assert(replayed.nonEmpty)
      // the replay probes an index that already holds the batch, yet
      // emits what the first delivery did: no neighbor from the batch
      assert(replayed.map(_.toString).sorted.toSeq == first.map(_.toString).sorted.toSeq)
      assert(spark.read.parquet(s"$dir/idx/cells").count() == rowsAfter,
        "a replayed batch must not re-append")
    } finally rmTree(dir)
  }
}
