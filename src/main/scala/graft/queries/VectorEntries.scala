package graft.queries

import graft.operators.Parallelism.widen
import graft.operators.Similarity
import graft.queries.Queries._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vectors: embedding-store health, exact and approximate kNN,
  * IVF/int8/binary/matryoshka/PQ retrieval and their recall audits,
  * and the persisted serving indexes.
  */
private[queries] object VectorEntries {

  /** The nlist=64 IVF index over the embeddings, and the `(id, v)`
    * corpus assigned to its cells: what [[graft.operators.Ivf.ivfTopK]]
    * probes in the IVF top-k, recall and probe-sweep entries.
    */
  private def ivfAssigned(emb: DataFrame): (graft.operators.Ivf.IvfIndex, DataFrame) = {
    val index = graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding", nlist = 64)
    (index, graft.operators.Ivf.assign(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), "v", index))
  }

  val entries: Seq[CatalogEntry] = Seq(

    // Embedding dimension contract: vector-length histogram — a mixed
    // dim column breaks every ANN kernel downstream, so this is the
    // first audit run on a new embedding drop.
    CatalogEntry("x_embed_dims", (s, d) =>
      t(s, d, "embeddings")
        .groupBy(size(col("embedding")).cast(LongType).as("dim"))
        .agg(count(lit(1)).as("n_vecs")),
      """SELECT CAST(len(embedding) AS BIGINT) AS dim, count(*) AS n_vecs
        |FROM embeddings GROUP BY 1""".stripMargin),

    // Embedding-store health: per-label vector counts + zero vectors
    // (undefined cosine — the rows the ANN family's NaN guards
    // exist for). Exact float comparison, one agg.
    CatalogEntry("x_label_balance", (s, d) =>
      t(s, d, "embeddings")
        .groupBy(col("label").cast(LongType).as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(expr("!exists(embedding, x -> x != 0F)"), 1L)
            .otherwise(0L)).as("n_zero_vecs")),
      """SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN len(list_filter(embedding, x -> x <> 0)) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs
        |FROM embeddings GROUP BY 1""".stripMargin),

    // Brute-force cosine top-k (exact ANN baseline): top 10 neighbors of
    // vec_id=0. Scan → TakeOrderedAndProject; ids+rank only (float-safe).
    // Rank is assigned by sorting the 10 surviving rows as an array —
    // no unpartitioned window anywhere in the plan.
    CatalogEntry("x_cosine_topk", (s, d) => {
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
    },
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id, list_cosine_similarity(embedding, qv) AS c
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id,
        |  CAST(row_number() OVER (ORDER BY c DESC, vec_id ASC) AS INTEGER) AS rank
        |FROM scored WHERE NOT isnan(c) ORDER BY c DESC, vec_id ASC LIMIT 10""".stripMargin),

    // Int8 scalar quantization over the embedding store (the 4×
    // compression step before ANN serving). Exactness-by-construction
    // outputs: max_abs is an element value (no accumulation), sum_q a
    // BIGINT sum — both bit-deterministic across engines.
    CatalogEntry("x_embed_quantize", (s, d) => {
      val q = Similarity.int8Quantize(col("embedding"))
      // widened: the per-row quantize kernel, not the scan, is the cost
      widen(t(s, d, "embeddings")).select(
        col("vec_id"),
        q.getField("max_abs").as("max_abs"),
        aggregate(q.getField("q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
        size(col("embedding")).cast(LongType).as("n_dims"))
    },
      // float→double widening, abs/max comparisons, one multiply+divide
      // per element, floor, and an integer sum — every step
      // bit-deterministic on both engines, no float accumulation anywhere
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        |  FROM embeddings)
        |SELECT vec_id, max_abs,
        |  CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(list_sum(list_transform(embedding,
        |         x -> CAST(floor(CAST(x AS DOUBLE) * 127 / max_abs) AS BIGINT))) AS BIGINT) END AS sum_q,
        |  CAST(len(embedding) AS BIGINT) AS n_dims
        |FROM m""".stripMargin),

    // Per-label embedding centroids, surfaced through the integer-exact
    // stage: int8-quantized element sums per (label, position) — the
    // same posexplode → map-side-combined (key, pos) agg plan as
    // Centroids.groupCentroids (double sums are addition-order-
    // dependent, so the float centroid itself can't hash-match; the
    // quantized sums can, and IvfSpec pins the float path). The k-means
    // refinement built on this aggregation is spec-asserted monotone.
    CatalogEntry("x_embed_centroids", (s, d) => {
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
    },
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
        |FROM e GROUP BY 1, 2""".stripMargin),

    // LSH-bucketed ANN — rows-only; recall vs brute force asserted in
    // SimilaritySpec.
    CatalogEntry("x_ann_lsh", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.lshTopK(emb, "vec_id", "embedding", queries, "qid", "qv", k = 10)
        .select(col("query_id"), col("id"), col("rank"))
    },
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id, rank
        |FROM read_parquet('/root/repo/tools/golden/lsh_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // Exact kNN graph — ORACLE-ONLY status: the deliberate n² ground
    // truth that x_knn_graph_ann (the production column) and
    // x_knn_graph_recall audit against; at scale it runs on sampled
    // slices, never the corpus. Rank emission only (same engine-local-
    // float contract as x_cosine_topk); n² pairs shuffle once into
    // per-query k-row heaps.
    CatalogEntry("x_knn_graph", (s, d) =>
      exactKnnGraph(s, d)
        .select(col("query_id"), col("id"),
          col("rank").cast(IntegerType).as("rank")),
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
        |SELECT query_id, id, rank FROM ranked WHERE rank <= 5""".stripMargin),

    // PRODUCTION kNN graph — the scale path x_knn_graph is the recall
    // oracle FOR: LSH-banded capped-bucket candidates (candidate-
    // proportional, never n²), ONE exact-cosine eval per undirected
    // pair, per-query top-5 heaps. Oracle = committed corpus-keyed
    // golden replay (tools/gen_lsh_golden.py knn_graph_ann).
    CatalogEntry("x_knn_graph_ann", (s, d) =>
      Similarity.knnGraphApprox(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("id"),
          col("rank").cast(IntegerType).as("rank")),
      // Production ANN graph = corpus-keyed golden replay (the banding
      // is engine-hash-specific; tools/gen_lsh_golden.py replays the
      // kernel bit-exactly, same scheme as x_ann_lsh).
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id, rank
        |FROM read_parquet('/root/repo/tools/golden/knn_graph_ann.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // Recall@5 audit of the production graph vs the exact oracle graph
    // (integer hits/k per query; a query the ANN graph missed entirely
    // shows n_hits = 0, never silently drops). The n² side is the
    // AUDIT's cost by design — at 100 TB it runs on a sampled slice.
    CatalogEntry("x_knn_graph_recall", (s, d) => {
      val ann = Similarity.knnGraphApprox(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(ann, exactKnnGraph(s, d))
        .select(col("query_id"), col("n_hits"), col("k"))
    },
      // ANN-graph side = the golden replay; exact side = the x_knn_graph
      // brute-force rank SQL (self excluded on both sides); recall =
      // per-query hit count against exact top-5, missing queries 0.
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
        |LEFT JOIN hits h ON ex.query_id = h.query_id""".stripMargin),

    // Semi-supervised label spread: one-hop majority vote over the
    // shared exact kNN graph (ties → smallest label) — extends a
    // labeled seed set across the embedding corpus, and doubles as the
    // leave-one-out kNN-classifier audit since the graph never emits
    // self-edges. Graph- and vertex-bounded joins/aggs only; the n²
    // graph build is the session-shared oracle artifact, not this
    // entry's cost.
    CatalogEntry("x_label_propagation", (s, d) =>
      Similarity.propagateLabels(
        exactKnnGraph(s, d),
        t(s, d, "embeddings").select(col("vec_id").as("id"), col("label")))
        .select(col("query_id"), col("label_pred"), col("n_votes")),
      // exact-kNN brute-force rank SQL (same as x_knn_graph) + one-hop
      // majority vote; arg-max tie-break = smallest label, mirrored by
      // the ORDER BY n DESC, l ASC row_number filter
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
        |FROM win WHERE rn = 1""".stripMargin),

    // Recall fairness across labels: the kNN-graph recall@5 audit
    // split by the query's class — an index whose recall skews by
    // label silently under-retrieves whole classes (cells/bands built
    // from the majority class's geometry). The n² leg is the exact
    // oracle graph, session-shared; everything after is ≤|labels| rows.
    CatalogEntry("x_recall_by_label", (s, d) => {
      val ann = Similarity.knnGraphApprox(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(ann, exactKnnGraph(s, d))
        .join(t(s, d, "embeddings").select(col("vec_id").as("query_id"),
          col("label").cast(LongType).as("label")), "query_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("n_hits"),
          sum(col("k")).as("n_possible"))
    },
      // the x_knn_graph_recall construction joined to labels and
      // aggregated per class
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
        |GROUP BY 1""".stripMargin),

    // Hubness audit of the production kNN graph: in-degree histogram
    // including never-retrieved vectors (in-degree 0 via the left
    // join) — a handful of hub vectors absorbing most edges is the
    // classic high-dimensional ANN pathology (they dominate every
    // candidate list and crowd out true neighbors), and orphans mark
    // corpus regions the index cannot surface at all. One count agg
    // over the edge list, one key join against the id column.
    CatalogEntry("x_ann_degree_hist", (s, d) => {
      val deg = Similarity.knnGraphApprox(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
        .groupBy(col("id")).agg(count(lit(1)).as("in_degree"))
      t(s, d, "embeddings").select(col("vec_id").as("id"))
        .join(deg, Seq("id"), "left")
        .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
        .groupBy(col("in_degree")).agg(count(lit(1)).as("n_vecs"))
    },
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
        |FROM deg GROUP BY 1""".stripMargin),

    // IVF-cell ANN — the cell-probing scale path (corpus partitioned by
    // centroid cell; queries probe nProbe cells). Rows-only; recall vs
    // brute force asserted in IvfSpec.
    CatalogEntry("x_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val (index, assigned) = ivfAssigned(emb)
      graft.operators.Ivf.ivfTopK(assigned, queries, "qid", "qv", index, k = 10, nProbe = 8)
        .select(col("query_id"), col("id"), col("rank"))
    },
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id, rank
        |FROM read_parquet('/root/repo/tools/golden/ivf_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // Embedding-space DIVERSITY sample: ≤ 3 representatives per IVF
    // cell in deterministic hash order — stratified semantic coverage
    // (a uniform sample over-represents dense regions; per-cell picks
    // keep the tails). The per-cell cut is a WindowGroupLimit; oracle
    // = committed corpus-keyed golden replay (gen_hash_goldens.py).
    CatalogEntry("x_diversity_sample", (s, d) =>
      graft.operators.Ivf.diversitySample(
        t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 64, perCell = 3),
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT cell, pos, id
        |FROM read_parquet('/root/repo/tools/golden/diversity_sample.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // IVF cell-population histogram: the balance read before a
    // cell-sorted index layout (a giant cell defeats
    // probe pruning; many empty cells waste list overhead) — the IVF
    // counterpart of x_minhash_bucket_hist. Verified against the
    // kernel-replay golden.
    CatalogEntry("x_ivf_cell_hist", (s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = graft.operators.Ivf.buildIndex(emb, "vec_id", "embedding",
        nlist = 64)
      graft.operators.Ivf.assign(emb, "embedding", idx)
        .groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
        .groupBy(col("cell_size")).agg(count(lit(1)).as("n_cells"))
    },
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT cell_size, n_cells
        |FROM read_parquet('/root/repo/tools/golden/ivf_cell_hist.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // Index-vs-label alignment audit: per IVF cell, total vectors and
    // the majority label with its count — how well the coarse
    // quantizer's geometry lines up with the supervised labels (low
    // purity = cells mix classes; fine for ANN recall, a red flag if
    // cells were about to be reused as cheap pseudo-labels).
    // Max-struct majority (ties to the smaller label); everything
    // after the assign kernel is bounded by nlist × |labels|.
    CatalogEntry("x_ivf_label_purity", (s, d) => {
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
    },
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
        |FROM r WHERE rn = 1""".stripMargin),

    // ANN tuning curve: recall@10 at nProbe 2/4/8 against the live
    // exact top-k — the probes-vs-recall trade a 100 TB deployment
    // reads before fixing nProbe (each probe level scans
    // nProbe/nlist of the corpus). The IVF index and the corpus cell
    // assignment are nProbe-independent, so they are built ONCE and
    // probed three times (the pre-r18 form rebuilt both per level:
    // 2 redundant corpus passes for bit-identical cells); the shared
    // exact leg — the one corpus-proportional subtree — is referenced
    // ONCE via the tagged recall join instead of once per level.
    CatalogEntry("x_ann_probe_sweep", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Similarity.batchTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10)
      val (index, assigned) = ivfAssigned(emb)
      Similarity.recallAtKTagged(
          Seq(2, 4, 8).map { p =>
            lit(p.toLong) -> graft.operators.Ivf.ivfTopK(assigned,
              queries, "qid", "qv", index, k = 10, nProbe = p)
          }, exact, tagCol = "n_probe")
        .select(col("n_probe"), col("query_id"), col("n_hits"), col("k"))
    },
      // IVF side per probe level = the corpus-keyed sweep golden; exact
      // side = the live brute-force rank SQL (as x_ann_recall)
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
        |GROUP BY 1, 2""".stripMargin),

    // Recall@10 of the IVF probe vs exact brute force — the index
    // eval every ANN deployment gates on. Integer (hits, k) per
    // query; the IVF side replays the committed corpus-keyed golden,
    // the exact side is the same brute-force rank SQL as x_knn_graph.
    CatalogEntry("x_ann_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val (index, assigned) = ivfAssigned(emb)
      val ann = graft.operators.Ivf.ivfTopK(assigned, queries, "qid", "qv", index,
        k = 10, nProbe = 8)
      val exact = Similarity.batchTopK(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10)
      Similarity.recallAtK(ann, exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    },
      // IVF side = the corpus-keyed golden replay (same as x_ann_ivf);
      // exact side = the x_knn_graph brute-force rank SQL with self
      // INCLUDED (both engine frames keep the query vector, so recall
      // counts it consistently on both sides)
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
        |GROUP BY ex.qid""".stripMargin),

    // INT8-quantized retrieval scan (the serving path of a 4×-
    // compressed embedding store): per-query top-10 by the exact
    // integer dot of int8 codes. Every score is 64-bit-integer-exact,
    // so unlike every other ANN entry this one is DuckDB-verifiable
    // end to end with NO replay goldens — the oracle recomputes codes
    // and integer dots directly. One corpus scan, queries broadcast,
    // partial WindowGroupLimit per query.
    CatalogEntry("x_ann_int8", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.int8TopK(emb, "vec_id", "embedding", queries, "qid", "qv",
          k = 10)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    },
      // codes + integer dots recomputed directly (the x_embed_quantize
      // replay recipe); COALESCE guards a zero-length vector to the
      // kernel's 0
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
        |  ORDER BY int_dot DESC, vec_id ASC) <= 10""".stripMargin),

    // What the 4× compression costs: recall@10 of the int8 scan
    // against the exact float inner-product top-10 (both sides MIPS,
    // so the comparison isolates QUANTIZATION loss — not the
    // dot-vs-cosine objective gap). Integers only in the output. The
    // exact leg rides exactTopKSample (metric="dot") under the
    // standing audit cap — identity here, the bounded sampled slice
    // at scale.
    CatalogEntry("x_int8_recall", (s, d) => {
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
    },
      // exact side forced through the kernel's arithmetic: widen each
      // float to double, multiply, and accumulate via list_reduce — a
      // left fold seeded at 0.0, SEQUENTIAL BY DEFINITION, so the
      // ranking stays bit-identical to Spark's sequential dot kernel
      // even if a future DuckDB reassociates list_sum (pairwise/simd
      // summation could flip a near-tie at the rank-10 boundary)
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
        |GROUP BY fex.query_id""".stripMargin),

    // BINARY-quantized retrieval — the bottom rung of the compression
    // ladder (float32 → int8 4× → PQ 32× → sign bits, 1 bit/dim: a
    // dim-64 vector serves from 8 bytes, byte-for-byte parity with
    // m=8 PQ codes but a popcount-only scoring kernel): per-query
    // top-10 by the exact integer Hamming distance over 32-bit sign
    // words. Packing keeps every word < 2^32, so codes, distances and
    // ranking re-derive in checked-arithmetic SQL with NO replay
    // goldens (a 64-bit word's top bit would wrap in Java but ERROR
    // in DuckDB — Kernels.signWords scaladoc).
    CatalogEntry("x_ann_bq", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.binaryTopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 10)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("hamming"))
    },
      // sign words re-packed by a plain acc*2+bit fold over 32-bit
      // windows (MSB-first generate_series(31,0,-1) so bit j lands at
      // 2^j) — every word < 2^32, so DuckDB's overflow-CHECKED BIGINT
      // arithmetic replays Java's packing exactly; out-of-range
      // elements index to NULL → CASE 0, matching the kernel's trailing
      // zero bits. Distance = Σ bit_count(xor), integers end to end.
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
        |  ORDER BY hamming ASC, vec_id ASC) <= 10""".stripMargin),

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
    CatalogEntry("x_bq_recall", (s, d) => {
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
    },
      // BQ side = the x_ann_bq packing; exact side = the float cosine
      // ranking (list_cosine_similarity, the x_ann_recall exact-leg
      // idiom — self included on both sides)
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
        |GROUP BY fex.qid""".stripMargin),

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
    CatalogEntry("x_mrl_recall", (s, d) => {
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
    },
      // the prefix-dim grid re-derived: full-vector int8 codes, dots
      // over generate_series(1, d) only — integers end to end; the
      // d = 64 stratum doubles as the identity rail (n_hits = k)
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
        |GROUP BY a.d, a.query_id""".stripMargin),

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
    CatalogEntry("x_bq_rerank", (s, d) => {
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
    },
      // stage 1 = the x_ann_bq packing at rn <= 100; stage 2 = the int8
      // integer dot restricted to the shortlist; exact leg = cosine
      // (the x_bq_recall reference, so the pair reads as one experiment)
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
        |GROUP BY fex.qid""".stripMargin),

    // ADAPTIVE RETRIEVAL on the matryoshka axis (Kusupati et al.'s
    // serving recipe): shortlist top-100 by the d=16 prefix of the
    // int8 codes (a 4× cheaper routing scan over the SAME store),
    // rerank the shortlist with the full d=64 codes, audit recall@10
    // against the full-dim int8 ranking — the x_mrl_recall grid told
    // us what a d=16 prefix costs raw (1–4/10); this entry measures
    // the same prefix as a ROUTER with full-dim rescoring. Both
    // stages integer-exact ⇒ closed-form oracle.
    CatalogEntry("x_mrl_rerank", (s, d) => {
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
    },
      // stage 1 = prefix-16 integer dots at rn <= 100; stage 2 = the
      // full-dim integer dot over the shortlist; reference = the
      // full-dim int8 top-10 (the x_mrl_recall d=64 rail)
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
        |GROUP BY ref.query_id""".stripMargin),

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
    CatalogEntry("x_ann_pareto", (s, d) => {
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
    },
      // every rung's CTE chain verbatim from its own oracle (int8 codes,
      // sign words, the flat-PQ codebook→encode→LUT pipeline), unioned
      // and counted against the one cosine ground-truth leg
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
        |GROUP BY method, bytes_per_vec""".stripMargin),

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
    CatalogEntry("x_ann_pq", (s, d) => {
      pqTop10(s, d)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("adc_dot"))
    },
      // the full PQ pipeline re-derived: int8 codes → hash-order-sampled
      // codebook (the Sampling.hashRank double-modular formula — all
      // intermediates < 2^63, sign-safe for non-negative vec_id) →
      // integer-L2 argmin encode (ties → smallest code) → per-query
      // integer LUT → grouped ADC sum → top-10. Every arithmetic step is
      // BIGINT-exact, so no goldens and no float-order hazards anywhere.
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
        |  ORDER BY adc_dot DESC, vec_id ASC) <= 10""".stripMargin),

    // What the 32× compression costs: recall@10 of the PQ-ADC scan
    // against the exact float inner-product top-10 — the x_int8_recall
    // audit one rung further down the ladder, so the pair of entries
    // reads as the quantization-loss curve (float → int8 → PQ). Exact
    // leg rides exactTopKSample (metric="dot") under the standing
    // audit cap.
    CatalogEntry("x_pq_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Similarity.exactTopKSample(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, maxQueries = exactAuditMaxQueries,
        metric = "dot")
      Similarity.recallAtK(pqTop10(s, d), exact)
        .select(col("query_id"), col("n_hits"), col("k"))
    },
      // PQ top-10 (as x_ann_pq) vs the float exact side (the pinned
      // list_reduce left fold of x_int8_recall) — recall joined per query
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
        |GROUP BY fex.query_id""".stripMargin),

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
    CatalogEntry("x_pq_rerank", (s, d) => {
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
    },
      // x_pq_recall's CTE chain with the top-10 ADC cut widened to a
      // top-100 shortlist, an int8 integer-dot rescore over the
      // shortlist, and the same exact float-dot ground-truth leg
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
        |GROUP BY fex.query_id""".stripMargin),

    // QUANTIZER-REFRESH AUDIT — the numbers that tell a deployment
    // WHAT a grown index's frozen quantizers cost and WHETHER a
    // retrain would recover it. Centroids/codebooks are FROZEN on
    // append by design (reproducibility); this entry appends a
    // genuinely shifted increment (the corpus folded into the
    // positive orthant under disjoint ids — refreshAuditIndexes) to
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
    CatalogEntry("x_ann_refresh_gain", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val inc = driftedIncrement(emb)
      val union = emb.unionByName(inc)
      val root = java.nio.file.Paths.get(refreshAuditIndexes(s, d))
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
    },
      // the ivfPqOracleSql derivation twice over the union corpus
      // (base ∪ abs-folded increment at id+10000000): the FROZEN
      // quantizers sample from base ids only, the FRESH ones from the
      // union; drifted queries, exact float-dot ground truth, recall
      // counted per variant
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
      // io: its timing includes a real disk write and read-back
      // warmups = 2: first consumer of refresh_audit_indexes (4 persisted
      // index builds); one warmup left its timed reps in the post-build
      // GC/JIT shadow (10.2 s in-session vs 5.0 s with the artifact prebuilt)
      io = true, warmups = 2),

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
    CatalogEntry("x_refresh_adaptive", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val inc = driftedIncrement(emb)
      val union = emb.unionByName(inc)
      val root = java.nio.file.Paths.get(refreshAuditIndexes(s, d))
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
    },
      // frozen leg re-derived closed-form (the x_ann_refresh_gain
      // derivation over base-trained quantizers); the adaptive leg's
      // probe top-10 comes from the committed corpus-keyed golden —
      // integer Lloyd is bit-replayable but not one SQL pass
      // (tools/gen_pq_adaptive_golden.py re-derives it independently)
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
      // io: its timing includes a real disk write and read-back
      io = true),

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
    // corpus persists sorted by cell (the writeInt8Index layout with
    // 8-byte PQ codes), so probes read only the files holding their cells.
    CatalogEntry("x_ann_ivf_pq", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Pq.adcTopK(pqIndex(s, d),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("adc_dot"))
    },
      // the PQ pipeline plus the integer-L2 coarse quantizer: centroids
      // = the 64 smallest-(hashRank salt 7, id) int8 code vectors; cells
      // and probes by cc − 2·dot argmin (the constant query/doc term
      // cannot change a winner or tie); ADC restricted to probed cells
      ivfPqOracleSql),

    // The PERSISTED serving split of the same composition — write the
    // IVF-PQ index to disk (tinyint codebook/centroids/codes, codes
    // shifted −128 for the honest 1-byte-per-subspace layout,
    // sorted by cell, meta-validated), then answer the query batch by
    // reading ONLY the code files whose cell range holds a probed cell
    // (`cell IN (...)` against the manifest's ranges, PqSpec-asserted) and ranking by the
    // exact integer ADC dot. Scores and ranking are BIT-IDENTICAL to
    // the in-session x_ann_ivf_pq (same quantizers; integer scoring
    // has no accumulation-order freedom), so the entry shares its
    // golden-free oracle. io-classified: the probe reads the cells'
    // code files from disk each run. The index WRITE is the per-dir
    // served_pq_index artifact (build-once-probe-many is the
    // production cost model — the write cost lands in artifact_sec,
    // the corpus-refresh bucket, instead of every timed rep); probes
    // never mutate it, so the entry reads the stage directly.
    CatalogEntry("x_pq_index_probe", (s, d) => {
      val emb = t(s, d, "embeddings")
      val idxPath = servedPqIndex(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Pq.probeIndex(graft.operators.Pq.readIndex(s, idxPath),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("adc_dot"))
    },
      // the persisted-index probe is bit-identical to the in-session
      // composition by construction (same quantizers, integer scores,
      // lossless tinyint round trip — see the entry) — same oracle
      ivfPqOracleSql,
      // io: its timing includes a real disk write and read-back
      io = true),

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
    CatalogEntry("x_pq_index_grow", (s, d) => {
      val emb = t(s, d, "embeddings")
      val work = Harness.runDir("x_pq_index_grow")
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
    },
      // grown == fresh-full PROVABLY (the seed owns both hash-sample
      // minima prefixes — see the entry), so the append workflow shares
      // the same re-derivation
      ivfPqOracleSql,
      // io: its timing includes a real disk write and read-back
      io = true),

    // The COMPOSED serving path — IVF routing (coarse quantizer
    // narrows each query to 8 of 64 cells) + int8 integer-dot scoring
    // over the candidates: what an ANN deployment actually runs at
    // 100 TB (read compressed codes of probed cells only; raw floats
    // never leave the index build). Candidate volume ∝ probed-cell
    // occupancy; one (query,id) row per candidate by construction (a
    // vector lives in exactly one cell). Verified against the
    // committed kernel-replay golden (routing) with bit-exact integer
    // scores.
    CatalogEntry("x_ann_ivf_int8", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfInt8TopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 10, nlist = 64, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    },
      // kernel-replay golden keyed by the corpus checksum (the
      // x_ann_recall pattern); rank/int_dot stored in the golden itself
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

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
    CatalogEntry("x_ann_index_probe", (s, d) => {
      val emb = t(s, d, "embeddings")
      val idxPath = servedIvfIndex(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfInt8ProbeIndex(s, idxPath,
          graft.operators.Ivf.readInt8Index(s, idxPath),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    },
      // the persisted-index probe is bit-identical to the in-session
      // composition by construction (see the entry) — same golden
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

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
    CatalogEntry("x_ann_index_grow", (s, d) => {
      val emb = t(s, d, "embeddings")
      val work = Harness.runDir("x_ann_index_grow")
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
    },
      // seed-then-append equals fresh-full by construction (negative-hash
      // seed owns the corpus hash-minima; see the entry) — same golden
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

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
    CatalogEntry("x_index_compact", (s, d) => {
      val emb = t(s, d, "embeddings")
      val work = Harness.runDir("x_index_compact")
      val compacted = work.resolve("idx").toString
      graft.sources.IndexCompaction.compactIndex(
        s, fragmentedIvfIndex(s, d), compacted)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Ivf.ivfInt8ProbeIndex(s, compacted,
          graft.operators.Ivf.readInt8Index(s, compacted),
          queries, "qid", "qv", k = 10, nProbe = 8)
        .select(col("query_id"), col("id").as("vec_id"), col("rank"),
          col("int_dot"))
    },
      // compaction permutes file placement only (rows unchanged, total
      // tie order), and the fragmented index equals fresh-full by the
      // grow construction — same golden as the fresh probe
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT query_id, id AS vec_id, CAST(rank AS INTEGER) AS rank, int_dot
        |FROM read_parquet('/root/repo/tools/golden/ivf_int8_topk.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true)
  )
}
