package graft.queries

import graft.operators.TextAnalysis
import graft.queries.Queries._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sampling, splits and mixing: leakage-safe splits, stratified and
  * weighted samples, shuffles, curricula, source mixes and packing.
  */
private[queries] object SamplingEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // Length-bucketed batching: sort by (length, id), cut into 32-row
    // batches, report per-batch padding waste — the padding minimizer
    // for fixed-batch inference. Global numbering WITHOUT a
    // single-task window (range sort + per-partition count offsets;
    // see Packing.lengthBatches).
    CatalogEntry("x_length_batches", (s, d) => {
      val b = graft.operators.Packing.lengthBatches(
        t(s, d, "documents"), "doc_id", "n_chars", batchSize = 32)
      graft.operators.Packing.batchPaddingStats(b, "n_chars")
    },
      // aggregates run over COALESCE(n_chars, 0) to mirror the engine's
      // batchPaddingStats (max/sum over coalesce(len, 0)): an all-null
      // batch — exactly what NULLS FIRST orders into batch 0 — must
      // report 0/0/0.0 on both sides, not SQL-null-skipping aggregates
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
        |FROM b GROUP BY batch_id""".stripMargin),

    // DSIR-style importance weights (target = English docs vs the raw
    // corpus): add-one-smoothed unigram likelihood ratios, summed per
    // doc via the same token-sorted fold. The rational-ratio variant
    // is the hash-exact oracle surface; the paper's log-likelihood-
    // ratio variant is spec-pinned (ln ulps differ cross-engine).
    CatalogEntry("x_importance_weights", (s, d) =>
      graft.operators.DataSelection.importanceWeights(
        t(s, d, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", logRatio = false),
      // DSIR rational importance weights: one joint vocab pass (target
      // count as a conditional sum), 1-row totals, smoothed ratio per
      // token, per-doc token-sorted fold; docs with no tokens keep
      // weight 0.0 through the left join.
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
        |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id""".stripMargin),

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
    CatalogEntry("x_bootstrap_hist", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val n = docs.count() // bounded driver scalar: one row count
      val draws = s.range(n).select(
        pmod(graft.operators.Sampling.hashRank(col("id"), salt = 7L), lit(n))
          .as("drawn"))
      val times = draws.groupBy(col("drawn")).agg(count(lit(1)).as("__t"))
      docs.join(times, col("doc_id") === col("drawn"), "left")
        .select(coalesce(col("__t"), lit(0L)).as("times_drawn"))
        .groupBy(col("times_drawn")).agg(count(lit(1)).as("n_docs"))
    },
      // same two-round LCG (salt 7) on the draw index, mod n
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
        |GROUP BY 1""".stripMargin),

    // Near-dup-leakage-safe split: near-dup clusters (exact ngram pair
    // graph -> connected components) share ONE split label by hashing
    // the cluster root instead of the doc id — a doc in train and its
    // paraphrase in test would otherwise leak eval signal. Oracle
    // closes the pair graph with the x_dedup_clusters recursive CTE and
    // replays the portable split hash on the cluster id.
    CatalogEntry("x_cluster_safe_split", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Sampling.withClusterSafeSplit(
        docs, "doc_id", ngramPairGraph(s, d)._2)
        .select(col("doc_id"), col("cluster_id"), col("split"))
    },
      // x_dedup_clusters' recursive component closure + x_hash_split's
      // portable bucket hash, applied to the cluster id
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
        |FROM b""".stripMargin),

    // Deterministic 80/10/10 train/val/test split: ROW-LEVEL label per
    // doc, so the oracle verifies exact membership, not just counts.
    // Pure projection (no shuffle, no RNG); the bucket hash is
    // engine-portable.
    CatalogEntry("x_hash_split", (s, d) => {
      graft.operators.Sampling.withSplit(t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("lang"), col("split"))
    },
      // same double-modular-multiplication bucket as
      // graft.operators.Sampling (salt 0): all intermediates < 2^63 so
      // DuckDB's overflow-checked BIGINT agrees bit-for-bit with Spark
      """WITH b AS (
        |  SELECT *,
        |    (((((doc_id % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN bucket < 800 THEN 'train'
        |       WHEN bucket < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin),

    // Leakage-safe TEMPORAL split: train up to the exact 80th
    // percentile timestamp, a 7-day embargo gap, test after — the
    // time-series counterpart of x_cluster_safe_split (no event after
    // the cutoff leaks into training, and the embargo absorbs
    // label-window overlap; cf. combinatorial purged CV). The cutoff
    // is the TRUE order statistic from the histogram-narrowing
    // selector (ceil(0.8·n), never a sample) broadcast as one row;
    // epoch-µs values are < 2^53 so the double round-trip is exact.
    CatalogEntry("x_temporal_split", (s, d) => {
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
    },
      // cutoff = the exact ceil(0.8n)-th order statistic of epoch-µs
      // (the x_winsorize rank convention); 7-day embargo in µs
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
        |FROM v GROUP BY 1, 2""".stripMargin),

    // k-fold CV assignment (k=5): per-doc fold membership + a fold-
    // size audit in one frame — the same portable-hash projection as
    // x_hash_split at a different salt, folds as contiguous bucket
    // ranges so they're exactly even in bucket space.
    CatalogEntry("x_kfold", (s, d) =>
      graft.operators.Sampling.withFold(t(s, d, "documents"), "doc_id", k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")),
      // same inline LCG at salt 3; integer // replays the engine's
      // contiguous-range fold formula
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    (((((doc_id % 2147483647) + 3) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 AS bucket
        |  FROM documents
        |)
        |SELECT (bucket * 5) // 1000 AS fold, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1""".stripMargin),

    // Deterministic stratified downsample: keep 50% of 'en', 20% of
    // 'de', drop other strata; survivors' ids are exactly reproducible.
    CatalogEntry("x_stratified_sample", (s, d) => {
      graft.operators.Sampling.stratifiedSample(
        t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 500, "de" -> 200))
        .select(col("doc_id"), col("lang"))
    },
      // salt 1 (stratifiedSample's default — decisions with distinct
      // salts are independent)
      """SELECT doc_id, lang FROM documents
        |WHERE (((((doc_id % 2147483647) + 1) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000
        |  < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200 ELSE 0 END""".stripMargin),

    // Sampler-fairness audit: achieved vs target per-mill rate for
    // the stratified sample, per language — the uniformity check on
    // the deterministic LCG bucketing (a biased hash would over- or
    // under-fill a stratum systematically, skewing every downstream
    // eval built on the sample). Two bounded aggs joined on lang.
    CatalogEntry("x_sample_bias_audit", (s, d) => {
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
    },
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
        |GROUP BY d.lang""".stripMargin),

    // Per-source capped sample (≤ 25 docs per source in hash order):
    // the rank filter rides a WindowGroupLimit — map-side top-k per
    // key before the shuffle, spec-pinned.
    CatalogEntry("x_per_key_sample", (s, d) =>
      graft.operators.Sampling.perKeySample(
        t(s, d, "documents"), "doc_id", "source", k = 25)
        .select(col("doc_id"), col("source"), col("rn")),
      // same LCG without the per-mill collapse (salt 4), row_number over
      // (rank, id) per source
      """WITH r AS (
        |  SELECT doc_id, source,
        |    (((((doc_id % 2147483647) + 4) * 1103515245) % 2147483647) * 784588716) % 2147483647 AS rk
        |  FROM documents),
        |rn AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS INT) AS rn
        |  FROM r)
        |SELECT doc_id, source, rn FROM rn WHERE rn <= 25""".stripMargin),

    // Token-weighted sample (Efraimidis–Spirakis shape, derandomized):
    // 100 docs with the smallest hashRank(id)/n_tokens priority —
    // heavier docs proportionally more likely, replayable because the
    // "randomness" is the portable LCG rank and the priority is ONE
    // IEEE division of two integers (bit-identical in the oracle).
    // TakeOrdered top-k; zero-token docs are unsampleable by
    // construction and filtered.
    CatalogEntry("x_weighted_sample", (s, d) => {
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
    },
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
        |ORDER BY priority ASC, doc_id ASC LIMIT 100""".stripMargin),

    // Epoch-2 deterministic shuffle: global pseudo-random training
    // order via range-partitioned sort on the 31-bit hash rank +
    // zipWithIndex numbering (no single-task row_number window).
    CatalogEntry("x_epoch_shuffle", (s, d) =>
      graft.operators.Sampling.epochOrder(
        t(s, d, "documents"), "doc_id", epoch = 2),
      // salt = saltBase(100) + epoch(2); global 0-based position in
      // (rank, id) order
      """WITH r AS (
        |  SELECT doc_id,
        |    (((((doc_id % 2147483647) + 102) * 1103515245) % 2147483647) * 784588716) % 2147483647 AS rk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY rk, doc_id) - 1 AS BIGINT) AS pos
        |FROM r""".stripMargin),

    // Length curriculum: quartile bands on n_chars (exact boundaries,
    // ties down), shortest band first, in-band epoch shuffle, global
    // positions via the same zipWithIndex numbering.
    CatalogEntry("x_curriculum", (s, d) =>
      graft.operators.Sampling.curriculumOrder(
        t(s, d, "documents"), "doc_id", "n_chars",
        nBands = 4, epoch = 2),
      // quartile boundaries use the engine's exact rank arithmetic
      // (CAST(k AS DOUBLE)/4 * n); order = (band, LCG rank at salt
      // 200+2, id), ties down on boundaries
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
        |FROM lab""".stripMargin),

    // Round-robin source interleave: every source's i-th doc before
    // any source's (i+1)-th — two distributed sorts + zipWithIndex,
    // never a per-source window (5 sources would mean 5 hot tasks).
    CatalogEntry("x_interleave", (s, d) =>
      graft.operators.Sampling.interleaveOrder(
        t(s, d, "documents"), "doc_id", "source", epoch = 1),
      // pass 1 = per-source row_number over (LCG rank at salt 300+1,
      // id); pass 2 = global row_number over (rn, source) — (rn, source)
      // is unique so both orders are total
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
        |FROM rn""".stripMargin),

    // Temperature-weighted source mixing (α = 1/2 over per-lang char
    // totals, 60k-char budget): the corpus-composition step. Integer-
    // exact end to end (floor(sqrt) weights + 64-bit floor-division
    // rates + the portable per-mill hash), so the oracle replays the
    // whole derivation including each kept row's rate_mill.
    CatalogEntry("x_temperature_mix", (s, d) => {
      graft.operators.Sampling.temperatureMix(
        t(s, d, "documents"), "doc_id", "n_chars", "lang",
        budgetTokens = 60000L)
        .select(col("doc_id"), col("lang"), col("rate_mill"))
    },
      // w = floor(sqrt(tot)) is integer-exact below 2^45; the rate is
      // pure BIGINT floor division (// in DuckDB, div in Spark); the keep
      // hash is the salt-3 variant of the portable per-mill bucket
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
        |  < r.rate_mill""".stripMargin),

    // The source-level manifest for the same mix: per-source stats the
    // rate was derived from plus the REALIZED kept docs/tokens under
    // the deterministic hash — the allocation table you review before
    // committing a mix. |sources| rows; oracle replays the whole
    // derivation including the kept aggregates.
    CatalogEntry("x_mix_manifest", (s, d) => {
      graft.operators.Sampling.mixManifest(
        t(s, d, "documents"), "doc_id", "n_chars", "lang",
        budgetTokens = 60000L)
    },
      // same derivation + the realized kept aggregates per source
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
        |FROM rates r LEFT JOIN kept k ON r.lang = k.lang""".stripMargin),

    // Sequence packing (concatenate-and-chunk): per-(lang, bin) doc and
    // token totals. One partitioned window; bin math is integer
    // arithmetic — oracle-exact.
    CatalogEntry("x_pack_bins", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tok"))
      graft.operators.Packing.packBins(docs, "doc_id", "n_tok",
          maxTokensPerBin = 512L, partitionCol = "lang")
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    },
      // both sides use true integer division (Spark `div` = IntegralDivide,
      // DuckDB `//`) — exact at any magnitude
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
        |FROM packed GROUP BY lang, bin""".stripMargin),

    // Token-budget sampling: keep ~3000 tokens per language, hashed
    // order, exact membership. Partitioned-window cumsum + cutoff.
    CatalogEntry("x_token_budget", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tok"))
      graft.operators.Sampling.sampleToTokenBudget(
          docs, "doc_id", "n_tok", budgetPerKey = 3000L, partitionCol = "lang")
        .select(col("doc_id"), col("lang"), col("n_tok"))
    },
      // salt 2 (sampleToTokenBudget's default); cumsum-before cutoff in
      // hashed order, mirrored exactly
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
        |FROM ordered WHERE tok_before < 3000""".stripMargin)
  )
}
