package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("dot / norm / cosine basic identities") {
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(1.0, 2.0, 2.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))).toDF("a", "b")
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("dot"),
      Similarity.norm(col("a")).as("na"),
      Similarity.cosine(col("a"), col("b")).as("cos")).collect()
    assert(rows(0).getDouble(0) == 9.0)
    assert(rows(0).getDouble(1) == 3.0)
    assert(math.abs(rows(0).getDouble(2) - 1.0) < 1e-12)
    assert(rows(1).getDouble(2) == 0.0)
  }

  test("normalize yields unit vectors; zero vector stays zero") {
    val rows = Seq(Seq(3.0, 4.0), Seq(0.0, 0.0)).toDF("v")
      .select(Similarity.norm(Similarity.normalize(col("v"))).as("n"))
      .collect().map(_.getDouble(0))
    assert(math.abs(rows(0) - 1.0) < 1e-12)
    assert(rows(1) == 0.0)
  }

  test("bruteForceTopK returns exact neighbors in rank order") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(-1.0, 0.0))).toDF("id", "v")
    val top = Similarity.bruteForceTopK(corpus, "id", "v", Seq(1.0, 0.0), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("batchTopK agrees with bruteForceTopK per query on real embeddings") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200).cache()
    val q = emb.filter(col("vec_id") === 7)
    val qVec = q.select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble)
    val brute = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") =!= 7), "vec_id", "embedding", qVec, 5)
      .collect().map(_.getLong(0)).toSeq
    val batch = Similarity.batchTopK(
      emb.filter(col("vec_id") =!= 7), "vec_id", "embedding",
      q.select(col("vec_id").as("qid"), col("embedding").as("qv")), "qid", "qv", 5)
      .orderBy("rank").collect().map(_.getAs[Long]("id")).toSeq
    assert(batch == brute)
  }

  test("knnGraph: per-query rows agree with self-excluded batchTopK; zero vectors dropped") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f)),
      (5L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val g = Similarity.knnGraph(corpus, "id", "v", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // query 1: nearest is 2 (cos ~0.994), then 3 (cos 0)
    assert(g((1L, 1)) == 2L && g((1L, 2)) == 3L)
    // query 4 (-1,0): nearest is 3 (cos 0), then 2 (negative)
    assert(g((4L, 1)) == 3L)
    // the zero vector neither queries nor ranks
    assert(!g.keys.exists(_._1 == 5L), "zero vector must not appear as a query")
    assert(!g.values.exists(_ == 5L), "zero vector must not appear as a neighbor")
    // parity with batchTopK on a real-embedding query (id 7 vs the rest)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(100).cache()
    val fromGraph = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
      .filter(col("query_id") === 7).orderBy("rank")
      .collect().map(_.getAs[Long]("id")).toSeq
    val viaBatch = Similarity.batchTopK(
      emb.filter(col("vec_id") =!= 7), "vec_id", "embedding",
      emb.filter(col("vec_id") === 7)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")), "qid", "qv", 5)
      .orderBy("rank").collect().map(_.getAs[Long]("id")).toSeq
    assert(fromGraph == viaBatch)
    emb.unpersist()
  }

  test("exactTopKSample: identity above the cap, deterministic hash slice below it") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(120).cache()
    // cap >= query count => bit-identical to the uncapped exact graph
    // (the current-SF contract every audit rides)
    val full = Similarity.knnGraph(emb, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val sampledAll = Similarity.exactTopKSample(
      emb, "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 4, maxQueries = 100000, metric = "cosine", excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(sampledAll == full)
    // cap < query count => exactly the maxQueries hash-smallest query
    // ids survive, and each survivor keeps its full-run rows
    val expectQ = emb.select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val sampled = Similarity.exactTopKSample(
      emb, "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 4, maxQueries = 10, metric = "cosine", excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
    assert(sampled.map(_._1).toSet == expectQ)
    assert(sampled.sortBy(t => (t._1, t._2)).toSeq ==
      full.filter(t => expectQ(t._1)))
    // metric="dot": matches a driver-side MIPS ranking, zero vectors kept
    val tiny = Seq(
      (1L, Seq(2.0f, 0.0f)), (2L, Seq(1.0f, 1.0f)),
      (3L, Seq(0.0f, 0.0f)), (4L, Seq(-1.0f, 3.0f))).toDF("id", "v")
    val q = Seq((9L, Seq(1.0f, 1.0f))).toDF("qid", "qv")
    val dotTop = Similarity.exactTopKSample(tiny, "id", "v", q, "qid", "qv",
      k = 4, maxQueries = 5, metric = "dot")
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(dotTop == Seq((1L, 2.0), (2L, 2.0), (4L, 2.0), (3L, 0.0)))
    assertThrows[IllegalArgumentException](
      Similarity.exactTopKSample(tiny, "id", "v", q, "qid", "qv",
        k = 4, maxQueries = 5, metric = "euclid"))
    emb.unpersist()
  }

  test("knnGraphApprox: candidate-only subset of the exact graph, non-vacuous recall") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val exact = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.knnGraphApprox(emb, "vec_id", "embedding", k = 5)
    val annPairs = ann.select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every ANN edge is a real (non-self) edge with an exact score:
    // spot the contract, not the float — ranks are per-query 1..5
    val ranks = ann.groupBy("query_id")
      .agg(collect_list("rank").as("rs")).collect()
    ranks.foreach { r =>
      val rs = r.getSeq[Int](1).sorted
      assert(rs == (1 to rs.length), s"ranks not dense: $rs")
      assert(rs.length <= 5)
    }
    assert(annPairs.forall { case (q, i) => q != i }, "self-edge in ANN graph")
    // recall: the LSH banding must recover a meaningful share of the
    // exact top-5 graph — vacuous-guard floor, stable for the fixed
    // testdata corpus + deterministic hyperplanes
    val recall = (exact intersect annPairs).size.toDouble / exact.size
    assert(recall >= 0.25, s"ANN graph recall $recall too low")
    // and it must actually be approximate work, not the n² graph in
    // disguise: candidate pairs are bounded well below n²
    assert(annPairs.size <= exact.size, "ANN emits more than k per query")
    emb.unpersist()
  }

  test("knnGraphApprox: plan has no n² join and cuts per-query via Partial WindowGroupLimit") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = Similarity.knnGraphApprox(emb, "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    // the whole point vs knnGraph: candidate generation is a bucket
    // equi-join, never an all-pairs product
    assert(!p.contains("CartesianProduct"), s"cartesian product in ANN graph:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in ANN graph:\n$p")
    val lines = p.linesIterator.toIndexedSeq
    val pi = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(pi >= 0, s"no Partial WindowGroupLimit — a hot query would ship whole:\n$p")
  }

  test("knnGraphApprox: zero vectors excluded, cosine symmetric across directions") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.95f, 0.05f)), (4L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val g = Similarity.knnGraphApprox(corpus, "id", "v", k = 2,
      planes = 2, tables = 4)
    val rows = g.collect()
    assert(!rows.exists(r => r.getLong(0) == 4L || r.getLong(1) == 4L),
      "zero vector must not appear on either side")
    // each undirected pair is scored once and mirrored: the (a,b) and
    // (b,a) rows must carry the bit-identical cosine
    val byPair = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    byPair.foreach { case ((q, i), c) =>
      byPair.get((i, q)).foreach(c2 => assert(c == c2, s"asymmetric cosine $q<->$i"))
    }
  }

  test("signBucket is deterministic and seed-sensitive") {
    val df = Seq(Seq(0.5, -0.25, 1.0)).toDF("v")
    val a = df.select(Similarity.signBucket(col("v"), 10, 1).as("b")).collect()(0).getLong(0)
    val b = df.select(Similarity.signBucket(col("v"), 10, 1).as("b")).collect()(0).getLong(0)
    val c = df.select(Similarity.signBucket(col("v"), 10, 2).as("b")).collect()(0).getLong(0)
    assert(a == b)
    assert(a != c) // overwhelmingly likely for 10 planes
    assert(a >= 0 && a < (1L << 10))
  }

  test("lshTopK achieves reasonable recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")).cache()
    val exact = Similarity.batchTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", 10)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 6 planes / 12 tables: p(bucket agree) ~ 0.63^6 per table for the
    // ~0.4-cosine neighbors a random corpus has -> ~55% expected recall;
    // real near-dup corpora cluster far tighter than N(0,1) vectors.
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10, planes = 6, tables = 12)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall too low")
    // every query probes its own bucket, so the self-match must be in
    // the already-collected result — no need to re-run the LSH job
    assert(approx.count(p => p._1 == p._2) == 5)
  }

  test("int8Quantize: range bounds, zero-vector guard, reconstruction error within one step") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector -> all-zero q
      (3L, Seq(-3.0f, 2.0f, 1.5f, -0.1f))
    ).toDF("vec_id", "v")
    val rows = vecs.select(col("vec_id"), col("v"),
      Similarity.int8Quantize(col("v")).as("z")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val z = r.getStruct(2)
      val maxAbs = z.getDouble(0)
      val q = z.getSeq[Long](1)
      assert(maxAbs == v.map(x => math.abs(x.toDouble)).max)
      assert(q.length == v.length)
      if (maxAbs == 0.0) assert(q.forall(_ == 0L))
      else {
        assert(q.forall(x => x >= -127L && x <= 127L))
        // dequantized value within one quantization step of the input
        val step = maxAbs / 127.0
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(qi * step - x.toDouble) <= step + 1e-12,
            s"x=$x q=$qi step=$step")
        }
      }
    }
  }

  test("int8TopK: ranking matches a Scala integer-dot replay; scores exact") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(300).cache()
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = Similarity.int8TopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("int_dot")))).toMap

    // replay: quantize + integer dot in plain Scala, same arithmetic
    def codes(v: Seq[Float]): Array[Long] = {
      val mx = v.map(x => math.abs(x.toDouble)).max
      if (mx == 0.0) Array.fill(v.length)(0L)
      else v.map(x => math.floor(x.toDouble * 127.0 / mx).toLong).toArray
    }
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> codes(r.getSeq[Float](1)))
    val qs = all.filter(_._1 < 3)
    for ((qid, qc) <- qs) {
      val scored = all.map { case (id, c) =>
        (id, c.zip(qc).map { case (a, b) => a * b }.sum)
      }
      val top = scored.sortBy { case (id, d) => (-d, id) }.take(5)
      top.zipWithIndex.foreach { case ((id, d), i) =>
        assert(got((qid, i + 1)) == ((id, d)),
          s"query $qid rank ${i + 1}: got ${got((qid, i + 1))}, want ($id, $d)")
      }
    }
    // plan: queries broadcast; per-query cut pre-reduces map-side
    val plan = Similarity.int8TopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no partial top-k cut:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("binaryQuantize: bit j of word w == element w*32+j strictly positive; words < 2^32") {
    val df = Seq(
      (1L, (0 until 64).map(i => if (i % 3 == 0) 1.0f else -1.0f)),
      (2L, (0 until 40).map(i => if (i == 39) 0.5f else 0.0f)), // non-multiple-of-32 dim
      (3L, Seq.fill(64)(0.0f))                                  // zero vector
    ).toDF("id", "v")
    val got = df.select(col("id"), Similarity.binaryQuantize(col("v")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ref(v: Seq[Float]): Seq[Long] = {
      val out = Array.fill((v.length + 31) / 32)(0L)
      v.zipWithIndex.foreach { case (x, i) => if (x > 0.0f) out(i >> 5) |= 1L << (i & 31) }
      out.toSeq
    }
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for ((id, v) <- rows) {
      assert(got(id) == ref(v), s"id $id")
      assert(got(id).forall(w => w >= 0L && w < (1L << 32)), s"word out of 32-bit range for $id")
    }
    assert(got(3L).forall(_ == 0L))
    assert(got(2L).length == 2 && got(2L)(1) == (1L << 7)) // bit 39 = word 1, bit 7
  }

  test("binaryTopK: ranking matches a Scala popcount replay; hamming exact") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(300).cache()
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = Similarity.binaryTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("hamming")))).toMap

    def words(v: Seq[Float]): Array[Long] = {
      val out = Array.fill((v.length + 31) / 32)(0L)
      v.zipWithIndex.foreach { case (x, i) => if (x > 0.0f) out(i >> 5) |= 1L << (i & 31) }
      out
    }
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> words(r.getSeq[Float](1)))
    for ((qid, qw) <- all.filter(_._1 < 3)) {
      val scored = all.map { case (id, cw) =>
        (id, cw.zip(qw).map { case (a, b) => java.lang.Long.bitCount(a ^ b).toLong }.sum)
      }
      val top = scored.sortBy { case (id, h) => (h, id) }.take(5)
      top.zipWithIndex.foreach { case ((id, h), i) =>
        assert(got((qid, i + 1)) == ((id, h)),
          s"query $qid rank ${i + 1}: got ${got((qid, i + 1))}, want ($id, $h)")
      }
    }
    // plan: queries broadcast; per-query cut pre-reduces map-side
    val plan = Similarity.binaryTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no partial top-k cut:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("int8RerankTopK over the FULL pair set equals int8TopK exactly") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200).cache()
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val allPairs = emb.select(col("vec_id").as("id"))
      .crossJoin(queries.select(col("qid").as("query_id")))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("int_dot")))).toMap
    val rerank = keyed(Similarity.int8RerankTopK(allPairs,
      emb, "vec_id", "embedding", queries, "qid", "qv", k = 5))
    val direct = keyed(Similarity.int8TopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5))
    assert(rerank == direct)
  }

  test("int8RerankTopK respects the candidate set: never ranks an uncandidated id") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50).cache()
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cand = emb.filter(col("vec_id") % 2 === 1) // odds only
      .select(lit(0L).as("query_id"), col("vec_id").as("id"))
    val got = Similarity.int8RerankTopK(cand, emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10).collect().map(_.getAs[Long]("id"))
    assert(got.nonEmpty && got.forall(_ % 2 == 1))
  }

  test("recallAtK: overlap counts, explicit zero rows, k from the exact side") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),   // query 1: k=3
      (2L, 20L), (2L, 21L),              // query 2: k=2
      (3L, 30L), (3L, 31L)               // query 3: k=2
    ).toDF("query_id", "id")
    val ann = Seq(
      (1L, 10L), (1L, 12L), (1L, 99L),   // 2 of 3 recovered
      (2L, 20L), (2L, 21L),              // perfect
      (3L, 98L), (3L, 97L)               // total miss
    ).toDF("query_id", "id")
    val got = Similarity.recallAtK(ann, exact)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 3L)), 2L -> ((2L, 2L)), 3L -> ((0L, 2L))),
      s"unexpected recall rows: $got")
  }

  test("recallAtKTagged returns exactly the rows of per-leg recallAtK union") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L)
    ).toDF("query_id", "id")
    val legA = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "id")
    val legB = Seq((1L, 11L), (1L, 12L), (2L, 98L)).toDF("query_id", "id")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val tagged = keyed(Similarity.recallAtKTagged(
      Seq(lit("a") -> legA, lit("b") -> legB), exact, tagCol = "tag"))
    val perLeg = keyed(
      Similarity.recallAtK(legA, exact).select(lit("a"), col("query_id"),
          col("n_hits"), col("k"))
        .unionAll(Similarity.recallAtK(legB, exact).select(lit("b"),
          col("query_id"), col("n_hits"), col("k"))))
    assert(tagged == perLeg, s"tagged=$tagged perLeg=$perLeg")
    assert(tagged == Map(
      ("a", 1L) -> ((1L, 3L)), ("a", 2L) -> ((2L, 2L)),
      ("b", 1L) -> ((2L, 3L)), ("b", 2L) -> ((0L, 2L))))
  }

  test("recallAtKTagged rejects duplicate tags instead of merging their legs") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "id")
    val legA = Seq((1L, 10L)).toDF("query_id", "id")
    val legB = Seq((1L, 11L)).toDF("query_id", "id")
    val e = intercept[IllegalArgumentException] {
      Similarity.recallAtKTagged(
        Seq(lit("a") -> legA, lit("a") -> legB), exact, tagCol = "tag")
    }
    assert(e.getMessage.contains("pairwise distinct"), e.getMessage)
  }

  test("recallAtK on real data: IVF recovers a meaningful share of the exact top-10") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val ann = Ivf.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 10, nlist = 16, nProbe = 4)
    val exact = Similarity.batchTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 10)
    val rows = Similarity.recallAtK(ann, exact).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (hits, k) = (r.getLong(1), r.getLong(2))
      assert(k == 10L)
      // self is in both frames, so recall is never 0; probe subsets
      // make it legitimately < k sometimes
      assert(hits >= 1L && hits <= k, s"query ${r.getLong(0)}: $hits/$k")
    }
  }

  test("adaptivePlanes: floor pins the test SFs, log2 growth beyond") {
    // every corpus the harness tests with stays at the floor — the
    // committed corpus-keyed goldens are invariant to adaptivity
    for (n <- Seq(0L, 20L, 200L, 2000L, 2048L))
      assert(Similarity.adaptivePlanes(n, targetBucket = 32, floor = 6) == 6,
        s"n=$n must sit on the floor")
    // beyond the floor: mean occupancy n / 2^planes stays <= target
    assert(Similarity.adaptivePlanes(2049L, 32, 6) == 7)
    assert(Similarity.adaptivePlanes(20000L, 32, 6) == 10)
    assert(Similarity.adaptivePlanes(20000000L, 32, 6) == 20)
    for (n <- Seq(2049L, 20000L, 999999L, 20000000L)) {
      val p = Similarity.adaptivePlanes(n, 32, 6)
      assert(n.toDouble / math.pow(2, p) <= 32.0, s"occupancy breached at n=$n")
      // and not overshooting: one fewer plane would breach the target
      assert(n.toDouble / math.pow(2, p - 1) > 32.0, s"overshot at n=$n")
    }
    // embedding-dedup parameterization (floor 12): test SFs unchanged
    for (n <- Seq(200L, 2000L, 4096L))
      assert(Similarity.adaptivePlanes(n, 32, 12) == 12)
    intercept[IllegalArgumentException](Similarity.adaptivePlanes(10L, 0, 6))
    intercept[IllegalArgumentException](Similarity.adaptivePlanes(10L, 32, 0))
  }

  test("knnGraphApprox at test scale is invariant to plane adaptivity") {
    // n = 2000 <= 2048 -> planesEff == floor == 6: the production graph
    // must be bit-identical to the pre-adaptivity shape the committed
    // golden pins (the adaptive count only engages beyond the test SFs)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val a = Similarity.knnGraphApprox(emb, "vec_id", "embedding", k = 5)
      .select("query_id", "id", "rank")
    val b = Similarity.knnGraphApprox(emb, "vec_id", "embedding", k = 5,
        targetBucket = Int.MaxValue) // occupancy target never binds
      .select("query_id", "id", "rank")
    assert(a.collect().toSeq.sorted(RowOrd) == b.collect().toSeq.sorted(RowOrd))
  }

  private val RowOrd: Ordering[org.apache.spark.sql.Row] =
    Ordering.by(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

  test("propagateLabels: majority vote, min-label tie-break, unlabeled-only queries drop") {
    val graph = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),   // labels 7,7,8 -> 7 by majority
      (2L, 10L), (2L, 13L),              // labels 7,8   -> tie, min label 7
      (3L, 14L)                          // neighbor unlabeled -> no row
    ).toDF("query_id", "id")
    val labels = Seq((10L, 7), (11L, 7), (12L, 8), (13L, 8)).toDF("id", "label")
    val got = Similarity.propagateLabels(graph, labels)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((7L, 2L)), 2L -> ((7L, 1L))))
  }

  test("propagateLabels agreement audit: known labels vs one-hop vote on the kNN graph") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val graph = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
    val labels = emb.select(col("vec_id").as("id"), col("label"))
    val pred = Similarity.propagateLabels(graph, labels)
    // every query vertex has >= 1 labeled neighbor (all vectors carry
    // a label), so the output covers exactly the graph's query set
    val nq = graph.select("query_id").distinct().count()
    assert(pred.count() == nq)
    // votes are bounded by k and positive
    val mm = pred.agg(min(col("n_votes")), max(col("n_votes"))).head()
    assert(mm.getLong(0) >= 1L && mm.getLong(1) <= 5L)
    // exact driver replay of the vote over the collected graph
    val lbl = labels.collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val expected = graph.select("query_id", "id").collect()
      .map(r => r.getLong(0) -> lbl(r.getLong(1)))
      .groupBy(_._1).view.mapValues { vs =>
        val counts = vs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        counts.toSeq.minBy { case (l, n) => (-n, l) }
      }.toMap
    val got = pred.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected.map { case (q, (l, n)) => q -> ((l, n)) })
  }
}
