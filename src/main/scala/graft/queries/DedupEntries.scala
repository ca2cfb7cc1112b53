package graft.queries

import graft.operators.{Clusters, Dedup, QualityClassifier, TextAnalysis}
import graft.queries.Queries._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dedup and near-dup: exact, MinHash, n-gram, SimHash, embedding and
  * fuzzy pair finding, the shared pair graph's audits, passage-level
  * dedup, decontamination and the MinHash index folds.
  */
private[queries] object DedupEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // Exact dedup: canonical-survivor ids (lowest doc_id per distinct text).
    CatalogEntry("x_dedup_exact", (s, d) => {
      Dedup.exactDedup(t(s, d, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"))
    },
      """SELECT doc_id FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""".stripMargin),

    // Exact-dup audit groups keyed by content hash.
    CatalogEntry("x_dedup_groups", (s, d) => {
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),

    // MinHash-LSH near-dups. The candidate stage is not SQL-expressible,
    // but the VERIFIED output is oracle-checked against a DuckDB exact
    // shingle-jaccard all-pairs join: every true pair in the corpus has
    // j >= 0.8, where these LSH parameters (16 bands of 4 rows) miss a
    // pair with probability <= (1-0.8^4)^16 ~ 2e-4 — and the hashing is
    // deterministic, so equality is a checkable fact, verified LSH
    // output == exact set at BOTH sf0.01 (25 pairs) and sf0.1 (256
    // pairs, incl. the one j=0.8 pair). The jaccard measure itself (one
    // int/int IEEE division) is bit-identical across engines.
    // Golden-pair assertions in DedupSpec. storage=NONE: the returned
    // frame is lazy so nothing could ever unpersist a cache from here,
    // and at this scale recomputing the projection beats cache churn.
    // NOTE: the DuckDB side is all-pairs — ~2 s at sf0.01 but >10 min
    // at sf0.1; the oracle gate runs at sf0.01 only.
    CatalogEntry("x_dedup_minhash", (s, d) => {
      Dedup.minHashNearDups(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
    },
      // exact all-pairs jaccard: O(n²) list ops — fine at the oracle's
      // sf0.01 (500 docs); the Spark side is the one that must scale
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5""".stripMargin),

    // Exact n-gram Jaccard near-dups (posting-list intersection counts,
    // no LSH): the DIRECT computation of what x_dedup_minhash
    // approximates-then-verifies. The oracle is the same all-pairs
    // formulation; this operator's output must equal it exactly.
    // Served from the shared per-dataset pair graph (see
    // [[ngramPairGraph]]) — the corpus-wide shingle pass runs once per
    // session and the clusters/split entries derive from it.
    CatalogEntry("x_dedup_ngram", (s, d) => ngramPairGraph(s, d)._1,
      // identical formulation to x_dedup_minhash's oracle: both operators
      // compute the same exact pair set at this threshold
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5""".stripMargin),

    // Entity-resolution fuzzy match: inject a one-char-deleted typo
    // copy of every 20th title, then blocked (6-char prefix) +
    // levenshtein<=2 verify — the MDM blocking+verify shape for short
    // strings; hot blocks capped, the in-key-edit recall caveat is
    // the operator's documented contract.
    // Single-pass blocked levenshtein = the PREFIX PASS of the shared
    // multi-pass artifact (r12: filters the provenance-tagged frame
    // instead of recomputing the blocked join — and because it now
    // shares x_fuzzy_multipass's substitution fixture, the single-pass
    // recall gap vs multipass is directly measurable: an in-prefix
    // typo breaks the prefix block, so this pass misses exactly the
    // pairs the suffix pass recovers).
    CatalogEntry("x_fuzzy_match", (s, d) =>
      fuzzyMultipassPairs(s, d).filter(col("in_prefix") === 1L)
        .select(col("id_a"), col("id_b"), col("dist")),
      // same injection + blocking + levenshtein (identical definition,
      // no transpositions, both engines); blocks over 1000 rows excluded
      // the prefix pass (p1) of the multipass SQL — same substitution
      // fixture, same blocking, so the engine's provenance filter and
      // this single-pass SQL agree row-for-row
      """WITH t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title, substring(title, 1, 6) AS blk FROM titles
        |  WHERE title IS NOT NULL),
        |sz AS (SELECT blk, count(*) AS c FROM b GROUP BY blk),
        |ok AS (SELECT b.* FROM b JOIN sz USING (blk) WHERE sz.c <= 1000)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |FROM ok a JOIN ok c ON a.blk = c.blk AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.title, c.title) <= 2""".stripMargin),

    // Multi-pass blocking — the production answer to the in-key-edit
    // caveat: union DISTINCT pairs from a prefix pass and a suffix
    // pass. The injected typo is a SUBSTITUTION at position 3 — inside
    // the prefix key (so the prefix pass alone cannot see these
    // pairs) but length-preserving (so the suffix key survives and
    // the second pass recovers them). Pair frame session-shared with
    // x_golden_records (same artifact shape as the ngram pair graph).
    CatalogEntry("x_fuzzy_multipass", (s, d) =>
      fuzzyMultipassPairs(s, d).select(col("id_a"), col("id_b"), col("dist")),
      // two blocking passes (prefix; positive-index suffix) unioned
      // DISTINCT — the multi-pass recall answer, same levenshtein
      // verify; the injected substitution sits INSIDE the prefix key
      """WITH t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title,
        |    substring(title, 1, 6) AS blk1,
        |    substring(title, greatest(1, length(title) - 5), 6) AS blk2
        |  FROM titles WHERE title IS NOT NULL),
        |p1 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) c
        |    ON a.blk1 = c.blk1 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |p2 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) c
        |    ON a.blk2 = c.blk2 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2)
        |SELECT DISTINCT id_a, id_b, dist FROM (
        |  SELECT * FROM p1 UNION ALL SELECT * FROM p2)""".stripMargin),

    // Per-pass recall AUDIT off the provenance-tagged shared frame:
    // one row quantifying what each blocking pass contributes (the
    // injected in-prefix substitution makes typo pairs invisible to
    // the prefix pass — n_prefix counts how many it still found via
    // accidental blocks, n_suffix the recovery). Integer counts only;
    // a blocking-strategy change shows up here as a diff, not an
    // anecdote.
    CatalogEntry("x_fuzzy_pass_recall", (s, d) =>
      fuzzyMultipassPairs(s, d).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("in_prefix")).as("n_prefix"),
        sum(col("in_suffix")).as("n_suffix"),
        sum(when(col("in_prefix") === 1L && col("in_suffix") === 1L, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("id_b") >= 10000000L, 1L).otherwise(0L)).as("n_typo_pairs"),
        sum(when(col("id_b") >= 10000000L, col("in_prefix")).otherwise(0L))
          .as("n_typo_prefix")),
      // the multipass pair SQL with per-pass provenance flags, audited
      // into one integer row
      """WITH t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title,
        |    substring(title, 1, 6) AS blk1,
        |    substring(title, greatest(1, length(title) - 5), 6) AS blk2
        |  FROM titles WHERE title IS NOT NULL),
        |p1 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) c
        |    ON a.blk1 = c.blk1 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |p2 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    CAST(levenshtein(a.title, c.title) AS INTEGER) AS dist
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) c
        |    ON a.blk2 = c.blk2 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |pr AS (
        |  SELECT id_a, id_b, dist,
        |    max(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS in_prefix,
        |    max(CASE WHEN src = 2 THEN 1 ELSE 0 END) AS in_suffix
        |  FROM (SELECT p1.*, 1 AS src FROM p1
        |        UNION ALL SELECT p2.*, 2 AS src FROM p2)
        |  GROUP BY id_a, id_b, dist)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(in_prefix) AS BIGINT) AS n_prefix,
        |  CAST(sum(in_suffix) AS BIGINT) AS n_suffix,
        |  CAST(sum(CASE WHEN in_prefix = 1 AND in_suffix = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN id_b >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_typo_pairs,
        |  CAST(sum(CASE WHEN id_b >= 10000000 THEN in_prefix ELSE 0 END)
        |    AS BIGINT) AS n_typo_prefix
        |FROM pr""".stripMargin),

    // Golden records — the full MDM resolution pipeline composed from
    // session primitives: multi-pass fuzzy pairs → connected
    // components → min-id survivor per entity cluster. Every typo'd
    // record resolves back to its original; the corpus is only
    // anti-joined.
    CatalogEntry("x_golden_records", (s, d) => {
      val pairs = fuzzyMultipassPairs(s, d).select(col("id_a"), col("id_b"))
      graft.operators.Clusters.dedupClusters(fuzzyTitles(s, d), "doc_id",
          graft.operators.Clusters.connectedComponents(pairs))
        .select(col("doc_id"))
    },
      // the multipass pair SQL + the recursive min-label closure +
      // min-id survivorship (the x_dedup_clusters pattern)
      """WITH RECURSIVE t0 AS (
        |  SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |titles AS (
        |  SELECT doc_id, title FROM t0
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    substring(title, 1, 2) || 'Z' || substring(title, 4)
        |  FROM t0 WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id, title,
        |    substring(title, 1, 6) AS blk1,
        |    substring(title, greatest(1, length(title) - 5), 6) AS blk2
        |  FROM titles WHERE title IS NOT NULL),
        |p1 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk1, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk1 = s.blk1 WHERE s.c <= 1000) c
        |    ON a.blk1 = c.blk1 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |p2 AS (
        |  SELECT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) a
        |  JOIN (SELECT b.* FROM b JOIN (SELECT blk2, count(*) c FROM b GROUP BY 1) s
        |        ON b.blk2 = s.blk2 WHERE s.c <= 1000) c
        |    ON a.blk2 = c.blk2 AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.title, c.title) <= 2),
        |pairs AS (SELECT DISTINCT id_a, id_b FROM
        |  (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), lbl(id, comp) AS (
        |  SELECT u, least(u, min(v)) FROM edges GROUP BY u
        |  UNION
        |  SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.id
        |), comp AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id)
        |SELECT t.doc_id FROM titles t
        |LEFT JOIN comp ON t.doc_id = comp.id
        |WHERE comp.id IS NULL OR comp.comp = t.doc_id""".stripMargin),

    // Split-leakage audit: how many near-dup pairs CROSS train/val/
    // test boundaries under the plain id-hash split vs the
    // cluster-safe split — the one-row report that justifies
    // withClusterSafeSplit (plain hashing strands near-duplicates on
    // opposite sides of the eval boundary; the cluster-id hash cannot,
    // by construction). Pair-bounded joins off the shared artifacts.
    CatalogEntry("x_split_leakage", (s, d) => {
      val (pairs, components) = ngramPairGraph(s, d)
      val docs = t(s, d, "documents")
      val plain = graft.operators.Sampling.withSplit(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      val safe = graft.operators.Sampling.withClusterSafeSplit(
          docs, "doc_id", components)
        .select(col("doc_id"), col("split").as("safe_split"))
      // each pair explodes into its two endpoints and joins the split
      // frames ONCE each — the four per-side joins referenced `plain`
      // and `safe` twice apiece, and Catalyst evaluated the corpus-
      // sized split subtrees once per reference (r18 plan audit). The
      // pair graph has no self-loops, so doc_id = id_a marks the side
      // unambiguously and each (pair, side) group folds back to one
      // row. INVARIANT this rewrite leans on (r19 advice): every pair
      // endpoint resolves in both split frames — withSplit /
      // withClusterSafeSplit label EVERY doc, and pair ids come from
      // those same docs — so the inner joins drop nothing; a pair with
      // a missing endpoint would have been dropped by the old
      // four-join form but kept (with null sa/sb) here.
      val p = pairs.select(col("id_a"), col("id_b"))
      val joined = p
        .select(col("id_a"), col("id_b"),
          explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .join(plain, "doc_id")
        .join(safe, "doc_id")
        .groupBy(col("id_a"), col("id_b"))
        .agg(
          max(when(col("doc_id") === col("id_a"), col("split"))).as("sa"),
          max(when(col("doc_id") === col("id_b"), col("split"))).as("sb"),
          max(when(col("doc_id") === col("id_a"), col("safe_split")))
            .as("ca"),
          max(when(col("doc_id") === col("id_b"), col("safe_split")))
            .as("cb"))
      joined.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as("n_leaked_plain"),
        sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L))
          .as("n_leaked_safe"))
    },
      // the pair/closure CTEs + both split labelings (id hash vs
      // cluster-id hash, same LCG), crossings counted per pair
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
        |), lab AS (
        |  SELECT d.doc_id,
        |    CASE WHEN (((((d.doc_id % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 800 THEN 'train'
        |         WHEN (((((d.doc_id % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CASE WHEN (((((COALESCE(c.comp, d.doc_id) % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 800 THEN 'train'
        |         WHEN (((((COALESCE(c.comp, d.doc_id) % 2147483647) + 0) * 1103515245) % 2147483647) * 784588716) % 2147483647 % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS safe_split
        |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
        |)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked_plain,
        |  CAST(sum(CASE WHEN a.safe_split <> b.safe_split THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked_safe
        |FROM pairs p JOIN lab a ON p.id_a = a.doc_id
        |JOIN lab b ON p.id_b = b.doc_id""".stripMargin),

    // Survivorship by QUALITY: keep the longest doc per near-dup
    // cluster (ties to the lower id) — member-bounded winner agg +
    // one corpus anti-join, off the shared pair graph.
    CatalogEntry("x_dedup_best", (s, d) => {
      val (_, components) = ngramPairGraph(s, d)
      graft.operators.Clusters.bestPerCluster(
        t(s, d, "documents"), "doc_id", components, "n_chars")
        .select(col("doc_id"), col("n_chars"))
    },
      // same recursive component closure; the survivor is the longest
      // member (ties to the lower id), singletons all survive
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
        |), comp AS (
        |  SELECT id AS doc_id, min(comp) AS cluster_id FROM lbl GROUP BY id
        |), mem AS (
        |  SELECT d.doc_id, c.cluster_id, d.n_chars
        |  FROM documents d JOIN comp c USING (doc_id)
        |), win AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
        |    FROM mem) WHERE rn = 1)
        |SELECT d.doc_id, d.n_chars
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |WHERE c.doc_id IS NULL OR d.doc_id IN (SELECT doc_id FROM win)""".stripMargin),

    // Near-dup degree histogram off the shared pair graph: how many
    // docs have k near-duplicates — the dedup-audit summary a curator
    // reads before choosing survivors (a fat tail means hub docs /
    // template spam). Two tiny aggs over the pair-bounded frame.
    CatalogEntry("x_dup_degree", (s, d) => {
      val pairs = ngramPairGraph(s, d)._1
      pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
    },
      // degree = pair-endpoint multiplicity; histogram over the
      // pair-bounded frame
      """WITH toks AS (
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
        |), deg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT id_a AS doc_id FROM pairs
        |    UNION ALL SELECT id_b AS doc_id FROM pairs)
        |  GROUP BY doc_id)
        |SELECT CAST(degree AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_docs
        |FROM deg GROUP BY degree""".stripMargin),

    // Exact n-gram CONTAINMENT pairs: |A∩B|/min(|A|,|B|) >= 0.7 — the
    // snippet-in-document axis Jaccard dilutes away. On this corpus
    // the pair SET matches the Jaccard family (no snippet structure in
    // the synthetic text — the asymmetric case is spec-pinned); the
    // containment VALUES are the distinct verified computation. Rides
    // the shared docShingles artifact — one corpus shingle pass per
    // session feeds both this and the Jaccard pair graph.
    CatalogEntry("x_dedup_containment", (s, d) =>
      Dedup.ngramContainmentFromShingles(
        docShingles(s, d), threshold = 0.7, maxPostings = 1000,
        metric = "graft_containment_postings_doc_id_text"),
      // same shingle CTE as the Jaccard family; containment divides the
      // intersection by the SMALLER set instead of the union
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(least(len(a.s), len(b.s)) AS DOUBLE) AS containment
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(least(len(a.s), len(b.s)) AS DOUBLE) >= 0.7""".stripMargin),

    // Cross-source contamination audit: near-dup pair counts per
    // unordered source pair, from the shared pair graph — the
    // governance view of the dedup family (which crawls feed each
    // other duplicated text). Pair side broadcasts; documents never
    // shuffle.
    CatalogEntry("x_source_overlap", (s, d) =>
      Dedup.pairAttributeOverlap(
        ngramPairGraph(s, d)._1, t(s, d, "documents"), "doc_id", "source")
        .select(col("attr_a").as("source_a"), col("attr_b").as("source_b"),
          col("n_pairs")),
      // same pair formulation as x_dedup_ngram, resolved to unordered
      // source pairs and counted
      """WITH toks AS (
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
        |), lab AS (
        |  SELECT least(da.source, db.source) AS source_a,
        |         greatest(da.source, db.source) AS source_b
        |  FROM pairs
        |  JOIN documents da ON pairs.id_a = da.doc_id
        |  JOIN documents db ON pairs.id_b = db.doc_id)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY source_a, source_b""".stripMargin),

    // Cross-LANGUAGE near-dup pairs (same machinery as
    // x_source_overlap on the lang axis): off-diagonal mass here is
    // the translation/copy-paste artifact signal — text that clears
    // the n-gram threshold across language labels is almost always a
    // mislabeled or code/number-heavy duplicate.
    CatalogEntry("x_dup_pairs_by_lang", (s, d) =>
      Dedup.pairAttributeOverlap(
        ngramPairGraph(s, d)._1, t(s, d, "documents"), "doc_id", "lang")
        .select(col("attr_a").as("lang_a"), col("attr_b").as("lang_b"),
          col("n_pairs")),
      // same pair SQL as x_source_overlap, lang attribute
      """WITH toks AS (
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
        |), lab AS (
        |  SELECT least(da.lang, db.lang) AS lang_a,
        |         greatest(da.lang, db.lang) AS lang_b
        |  FROM pairs
        |  JOIN documents da ON pairs.id_a = da.doc_id
        |  JOIN documents db ON pairs.id_b = db.doc_id)
        |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY lang_a, lang_b""".stripMargin),

    // Duplicate-CLUSTER resolution: near-dup pairs → connected
    // components (alternating large-star/small-star) → (doc, cluster
    // root). Pairs come from the exact n-gram family, so the component
    // structure is SQL-expressible and the oracle closes it with a
    // recursive CTE. Output covers exactly the docs that appear in a
    // pair; cluster_id is the smallest reachable doc_id.
    CatalogEntry("x_dedup_clusters", (s, d) => {
      ngramPairGraph(s, d)._2
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    },
      // same exact pair set as x_dedup_ngram, closed transitively with a
      // recursive min-label propagation: each vertex accumulates every
      // reachable label, so min(comp) is the smallest reachable doc_id —
      // the same component root large-star/small-star converges to
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
        |)
        |SELECT id AS doc_id, min(comp) AS cluster_id FROM lbl GROUP BY id""".stripMargin),

    // Source-contribution inequality: the exact Gini NUMERATOR
    // (Σᵢⱼ|tᵢ−tⱼ|, integers) over per-source token mass plus n and the
    // total — Gini = sad/(2·n·total) is driver arithmetic. The
    // corpus collapses to one row per source before the |sources|²
    // broadcast cross — the rebalancing signal read before setting
    // x_temperature_mix exponents.
    CatalogEntry("x_source_balance", (s, d) => {
      val st = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("tok"))
      st.select(col("tok").as("ta"))
        .crossJoin(broadcast(st.select(col("tok").as("tb"))))
        .agg(sum(abs(col("ta") - col("tb"))).as("sum_abs_diff"))
        .crossJoin(broadcast(st.agg(count(lit(1)).as("n_sources"),
          sum(col("tok")).as("total_tokens"))))
    },
      """WITH st AS (
        |  SELECT source,
        |    sum(CASE WHEN trim(text) = '' THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END) AS tok
        |  FROM documents GROUP BY source)
        |SELECT
        |  (SELECT CAST(sum(abs(a.tok - b.tok)) AS BIGINT) FROM st a, st b)
        |    AS sum_abs_diff,
        |  (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_sources,
        |  (SELECT CAST(sum(tok) AS BIGINT) FROM st) AS total_tokens""".stripMargin),

    // Are near-duplicates lower quality? Classifier keep-rate split
    // by dup-cluster membership (pair-bounded components broadcast
    // onto the codegen'd classifier projection) — the evidence for
    // ordering dedup before or after the quality gate at 100 TB.
    CatalogEntry("x_dup_quality", (s, d) => {
      val comp = ngramPairGraph(s, d)._2
        .select(col("id").as("doc_id"), lit(1).as("__dup"))
      QualityClassifier.score(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("keep").cast(IntegerType).as("keep_flag"))
        .join(broadcast(comp), Seq("doc_id"), "left")
        .groupBy(coalesce(col("__dup"), lit(0)).as("in_dup_cluster"),
          col("keep_flag"))
        .agg(count(lit(1)).as("n_docs"))
    },
      // classifier keep on plain text (x_quality_agreement's formulas) ×
      // near-dup pair membership (the standard pair CTE)
      """WITH toks AS (
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
        |), mem AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT id_a AS id FROM pairs
        |    UNION ALL SELECT id_b AS id FROM pairs)
        |), f AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END AS n_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text),'\s+'), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS mtl
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN -2.0 + 0.02 * n_tok + -10.0 * punct_ratio
        |         + 5.0 * stop_ratio + 0.1 * mtl >= 0.0 THEN 1 ELSE 0 END AS keep_flag
        |  FROM f)
        |SELECT CASE WHEN mem.id IS NOT NULL THEN 1 ELSE 0 END AS in_dup_cluster,
        |  c.keep_flag, count(*) AS n_docs
        |FROM c LEFT JOIN mem ON c.doc_id = mem.id
        |GROUP BY 1, 2""".stripMargin),

    // Dedup GOVERNANCE by source, off the shared pair graph: per
    // source, how many docs sit in a near-dup cluster and how many a
    // min-id dedup would remove — the "which crawls ship duplicated
    // text" rollup a curation owner reads before re-weighting sources.
    // The pair-bounded components frame broadcast-joins onto the
    // corpus; one agg, integers only.
    CatalogEntry("x_dup_rate_by_source", (s, d) => {
      val comp = ngramPairGraph(s, d)._2
      t(s, d, "documents")
        .join(comp.select(col("id").as("doc_id"),
          (col("id") =!= col("component")).cast("long").as("__loser")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("__loser")).as("n_dup_members"),
          coalesce(sum(col("__loser")), lit(0L)).as("n_removed"))
    },
      // same pair SQL + closure, rolled up per source
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
        |), comp AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id
        |)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(count(c.id) AS BIGINT) AS n_dup_members,
        |  CAST(coalesce(sum(CASE WHEN c.id IS NOT NULL AND c.id <> c.comp
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |GROUP BY d.source""".stripMargin),

    // Cluster-SIZE histogram off the shared pair graph: how big the
    // near-dup groups are (size → n_clusters, n_docs) — the shape a
    // curation owner reads before choosing a survivorship policy
    // (many 2-groups vs a few giant mirror clusters behave very
    // differently under keep-one). Pair-bounded aggregation only.
    CatalogEntry("x_cluster_sizes", (s, d) => {
      ngramPairGraph(s, d)._2
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    },
      // same pair SQL + closure, grouped by component size
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
        |), comp AS (
        |  SELECT id, min(comp) AS comp FROM lbl GROUP BY id
        |), sz AS (
        |  SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp
        |)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size""".stripMargin),

    // Hub centrality of the near-dup structure: integer fixed-point
    // PageRank (5 rounds, damping 85/100, scale 10^6) over the shared
    // pair graph — ranks the template/boilerplate sources many
    // distinct documents partially copy above one-off mirror pairs.
    // All-integer `div` arithmetic makes the fixed point bit-identical
    // on any engine and any summation order; each round shuffles only
    // the id-only edge list (∝ near-dup pairs, structurally ≪ corpus).
    CatalogEntry("x_pair_pagerank", (s, d) =>
      Clusters.pageRankInt(ngramPairGraph(s, d)._1)
        .select(col("id").as("doc_id"), col("pr")),
      // same pair CTE as x_dedup_ngram, then the 5-round integer
      // PageRank fixed point unrolled as chained CTEs — all-integer //
      // division (positive operands, so DuckDB floor == Spark trunc
      // `div`) reproduces the engine's result bit-exactly
      """WITH toks AS (
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
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs
        |), deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
        |), s0 AS (
        |  SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg
        |), s1 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s0 s ON e.src = s.id GROUP BY e.dst
        |), s2 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s1 s ON e.src = s.id GROUP BY e.dst
        |), s3 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s2 s ON e.src = s.id GROUP BY e.dst
        |), s4 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s3 s ON e.src = s.id GROUP BY e.dst
        |), s5 AS (
        |  SELECT e.dst AS id, CAST(150000 + (85 * sum(s.pr // d.deg)) // 100 AS BIGINT) AS pr
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN s4 s ON e.src = s.id GROUP BY e.dst
        |)
        |SELECT id AS doc_id, pr FROM s5""".stripMargin),

    // Cross-source spread of duplicate clusters: per cluster, how
    // many distinct sources its members span, as a histogram —
    // clusters confined to one source are re-crawls (dedup freely);
    // multi-source clusters are syndication/mirroring, where the
    // survivor policy decides which source's metadata wins. Rides
    // the session-shared component frame; everything pair-bounded.
    CatalogEntry("x_dup_cluster_sources", (s, d) => {
      ngramPairGraph(s, d)._2
        .select(col("id").as("doc_id"), col("component"))
        .join(t(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("component"))
        .agg(countDistinct(col("source")).as("n_sources"))
        .groupBy(col("n_sources")).agg(count(lit(1)).as("n_clusters"))
    },
      // same recursive component construction, rolled up to the
      // distinct-source spread per cluster
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
        |), comp AS (
        |  SELECT id AS doc_id, min(comp) AS cluster_id FROM lbl GROUP BY id
        |), spread AS (
        |  SELECT c.cluster_id, count(DISTINCT d.source) AS n_sources
        |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
        |  GROUP BY 1)
        |SELECT CAST(n_sources AS BIGINT) AS n_sources,
        |  count(*) AS n_clusters
        |FROM spread GROUP BY 1""".stripMargin),

    // Triad census of the near-dup graph (vertices/edges/wedges/
    // triangles): distinguishes chained near-duplication (transitive
    // clustering over-merges) from clique-like mirror groups. Exact
    // integers; candidate volume is the wedge count, never the corpus.
    CatalogEntry("x_triad_census", (s, d) =>
      Clusters.triadCensus(ngramPairGraph(s, d)._1),
      // same pair SQL; census over the canonical (id_a < id_b) edges
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), e AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), deg AS (
        |  SELECT id, count(*) AS deg
        |  FROM (SELECT id_a AS id FROM e UNION ALL SELECT id_b AS id FROM e)
        |  GROUP BY id
        |), tri AS (
        |  SELECT count(*) AS t
        |  FROM e ab JOIN e bc ON ab.id_b = bc.id_a
        |    JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b
        |)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(coalesce(sum((deg * (deg - 1)) // 2), 0) AS BIGINT)
        |     FROM deg) AS n_wedges,
        |  (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles""".stripMargin),

    // LSH banding capacity profile: (band, bucket) population
    // histogram for the MinHash index — the companion to
    // x_posting_stats for the signature family, and the distribution
    // maxBucket is sized against. Rides the shared shingle
    // projection; verified against the kernel-replay golden.
    CatalogEntry("x_minhash_bucket_hist", (s, d) =>
      docShingles(s, d)
        .select(posexplode(Dedup.minHashBands(col("sh"), 64, 16)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        .groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bucket_size"))
        .groupBy(col("bucket_size")).agg(count(lit(1)).as("n_buckets")),
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL)
        |SELECT bucket_size, n_buckets
        |FROM read_parquet('/root/repo/tools/golden/minhash_bucket_hist.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // Posting-list capacity profile: shingle document-frequency
    // histogram (df → n_shingles) off the SHARED shingle projection —
    // the distribution that justifies the inverted-index family's
    // hot-shingle caps (maxPostings): a heavy tail here is exactly
    // the bucket-overflow risk the caps bound. Linear work; the df
    // agg is map-side combined.
    CatalogEntry("x_posting_stats", (s, d) =>
      docShingles(s, d)
        .select(explode(col("sh")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .groupBy(col("df")).agg(count(lit(1)).as("n_shingles")),
      // per-doc DISTINCT shingles (the projection's contract), then a
      // plain df histogram
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), post AS (
        |  SELECT u.sg, count(*) AS df
        |  FROM (SELECT unnest(s) AS sg FROM sh) u
        |  GROUP BY u.sg)
        |SELECT CAST(df AS BIGINT) AS df, count(*) AS n_shingles
        |FROM post GROUP BY 1""".stripMargin),

    // Similarity histogram of the verified near-dup pairs: pair counts
    // per jaccard decile — the threshold-setting view (a mass of pairs
    // hugging 0.5 means the cut is arbitrary; a bimodal split means
    // it's safe). floor(j·10) on the exact IEEE division is
    // bit-identical across engines; rides the shared pair graph.
    CatalogEntry("x_dup_similarity_hist", (s, d) =>
      ngramPairGraph(s, d)._1
        .groupBy(floor(col("jaccard") * 10).cast(LongType).as("sim_decile"))
        .agg(count(lit(1)).as("n_pairs")),
      // same pair SQL; identical IEEE division then floor(j*10)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pj AS (
        |  SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT CAST(floor(j * 10) AS BIGINT) AS sim_decile,
        |  count(*) AS n_pairs
        |FROM pj WHERE j >= 0.5 GROUP BY 1""".stripMargin),

    // 2-hop reach per dup-graph vertex: how many docs each doc would
    // drag along under transitive merging — large reach with low
    // triangle closure (x_triad_census) is the over-merge smell. One
    // symmetric edge self-join on the middle vertex; volume = wedge
    // count, pair-bounded, never the corpus.
    CatalogEntry("x_khop_reach", (s, d) => {
      val p = ngramPairGraph(s, d)._1
      val sym = p.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(p.select(col("id_b").as("u"), col("id_a").as("v")))
      val two = sym.select(col("u"), col("v").as("m"))
        .join(sym.select(col("u").as("m"), col("v")), "m")
        .select(col("u"), col("v"))
        .filter(col("u") =!= col("v"))
      sym.unionAll(two).distinct()
        .groupBy(col("u")).agg(count(lit(1)).as("n_within_2"))
        .select(col("u").as("doc_id"), col("n_within_2"))
    },
      // same pair SQL; symmetric edges, one middle-vertex join
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM pr
        |  UNION ALL
        |  SELECT id_b AS u, id_a AS v FROM pr
        |), two AS (
        |  SELECT a.u AS u, b.v AS v FROM e a JOIN e b ON a.v = b.u
        |  WHERE a.u <> b.v
        |), r AS (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT u, v FROM e UNION ALL SELECT u, v FROM two)
        |)
        |SELECT u AS doc_id, count(*) AS n_within_2
        |FROM r GROUP BY u""".stripMargin),

    // Incremental dedup: index 4/5 of the corpus once, probe the other
    // 1/5 as an incoming batch — the 100 TB ingest pattern (the corpus
    // is never re-shingled per crawl). Oracle-exact for the same reason
    // x_dedup_minhash is: at this SF the banded candidates subsume every
    // true pair >= threshold, and verification is exact Jaccard.
    CatalogEntry("x_dedup_incremental", (s, d) => {
      val (batch, pairs) = indexAndProbe(s, d)
      pairs
    },
      // same shingle/jaccard formulation as x_dedup_minhash, restricted to
      // (batch, corpus) cross pairs
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
        |  CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) AS jaccard
        |FROM sh b JOIN sh a ON b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
        |WHERE CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) >= 0.5""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // The full incremental-ingest composition: probe the batch against
    // the indexed corpus, keep only novel docs, quality-filter them,
    // report per-language intake. Every stage's formulation is
    // individually oracle-verified (x_dedup_incremental,
    // x_quality_classifier); this entry proves they compose.
    CatalogEntry("x_incremental_ingest", (s, d) => {
      val (batch, pairs) = indexAndProbe(s, d)
      val novel = Dedup.keepNovel(batch, "doc_id", pairs)
      QualityClassifier.filterByQuality(novel, "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
    },
      // stage-by-stage composition of the x_dedup_incremental and
      // x_quality_classifier oracle formulations (near-dup batch ids ->
      // NOT IN -> logit >= 0 -> per-lang intake)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), dup_batch AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh b JOIN sh a ON b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
        |  WHERE CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) >= 0.5
        |), novel AS (
        |  SELECT * FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup_batch)
        |), f AS (
        |  SELECT *,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END AS n_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text),'\s+'), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio,
        |    CASE WHEN trim(text) = '' THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS mtl
        |  FROM novel
        |), kept AS (
        |  SELECT * FROM f
        |  WHERE -2.0 + 0.02 * n_tok + -10.0 * punct_ratio + 5.0 * stop_ratio + 0.1 * mtl >= 0.0
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
        |FROM kept GROUP BY lang""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // SimHash near-dups (hamming <= 3) — rows-only.
    CatalogEntry("x_dedup_simhash", (s, d) => {
      Dedup.simHashNearDups(t(s, d, "documents"), "doc_id", "text",
        maxDistance = 3)
    },
      // Same replay-golden scheme (tools/gen_hash_goldens.py — includes a
      // from-spec Python XXH64 independent of Spark's port) for the two
      // remaining engine-hash entries. The documents corpus_key is
      // sum((doc_id+1) * length(text)) — code-point length, exact integer
      // arithmetic in both engines.
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL)
        |SELECT id_a, id_b, hamming
        |FROM read_parquet('/root/repo/tools/golden/simhash_pairs.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // Estimator-quality audit: how well the CHEAP near-dup signal
    // (SimHash hamming ≤ 3 — one 64-bit hash per doc) agrees with the
    // exact n-gram Jaccard ≥ 0.5 pair set, as one integer row
    // (union / both / each-only). This is the measurement a curator
    // uses to decide whether the cheap pass can gate the expensive
    // one at 100 TB. Exact side rides the shared pair graph; both
    // pair frames are structurally ≪ corpus, so the full-outer join
    // is pair-bounded.
    CatalogEntry("x_simhash_vs_exact", (s, d) => {
      val sim = Dedup.simHashNearDups(t(s, d, "documents"), "doc_id", "text",
          maxDistance = 3)
        .select(col("id_a"), col("id_b"), lit(1L).as("__s"))
      val exact = ngramPairGraph(s, d)._1
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      sim.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(lit(1)).as("n_union"),
          sum(when(col("__s").isNotNull && col("__e").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("__e").isNull, 1L).otherwise(0L)).as("n_simhash_only"),
          sum(when(col("__s").isNull, 1L).otherwise(0L)).as("n_exact_only"))
    },
      // simhash side = golden replay; exact side = the shared pair SQL;
      // full-outer agreement counts
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/simhash_pairs.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), ex AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), f AS (
        |  SELECT g.id_a AS sa, ex.id_a AS ea
        |  FROM g FULL OUTER JOIN ex
        |    ON g.id_a = ex.id_a AND g.id_b = ex.id_b)
        |SELECT CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN sa IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only,
        |  CAST(sum(CASE WHEN sa IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f""".stripMargin),

    // Estimator-quality audit #2: MinHash SIGNATURE-agreement pairs
    // (n_agree/64 ≥ 0.5, no exact verification — the pass a 100 TB
    // pipeline would run if it skipped verify) vs the exact n-gram
    // Jaccard ≥ 0.5 pair set. Complements x_simhash_vs_exact: SimHash
    // is the one-hash signal, MinHash-unverified is the signature
    // signal — together they bound what verification buys. Both pair
    // frames structurally ≪ corpus.
    CatalogEntry("x_minhash_vs_exact", (s, d) => {
      val est = Dedup.minHashEstimatedPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1L).as("__m"))
      val exact = ngramPairGraph(s, d)._1
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      est.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(lit(1)).as("n_union"),
          sum(when(col("__m").isNotNull && col("__e").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("__e").isNull, 1L).otherwise(0L)).as("n_minhash_only"),
          sum(when(col("__m").isNull, 1L).otherwise(0L)).as("n_exact_only"))
    },
      // est side = corpus-keyed golden replay of the MinHash signature +
      // banding kernels (tools/gen_hash_goldens.py); exact side = the
      // live all-pairs Jaccard SQL, as in x_simhash_vs_exact
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), ex AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), f AS (
        |  SELECT g.id_a AS ma, ex.id_a AS ea
        |  FROM g FULL OUTER JOIN ex
        |    ON g.id_a = ex.id_a AND g.id_b = ex.id_b)
        |SELECT CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN ma IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
        |  CAST(sum(CASE WHEN ma IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f""".stripMargin),

    // Estimated-similarity histogram over the MinHash candidate
    // pairs: n_agree (of 64) → pair count — the resolution curve of
    // the signature estimator near the 0.5 threshold (a spike at the
    // minimum agreement means the cutoff sits inside a dense
    // similarity band and verification is load-bearing). One tiny
    // agg over the already-bounded candidate pair frame.
    CatalogEntry("x_minhash_est_hist", (s, d) =>
      Dedup.minHashEstimatedPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5, metricName = Some("graft_minhash_est_hist"))
        .groupBy(col("n_agree").cast(LongType).as("n_agree"))
        .agg(count(lit(1)).as("n_pairs")),
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(n_agree AS BIGINT) AS n_agree, count(*) AS n_pairs
        |FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs.parquet') g, ck
        |WHERE g.corpus_key = ck.k
        |GROUP BY 1""".stripMargin),

    // Signature-width sweep: the x_minhash_vs_exact audit at 64 AND
    // 16 hashes (bands 16/4, same rows-per-band) — what narrowing the
    // signature 4× costs in estimator fidelity, as two integer rows.
    CatalogEntry("x_minhash_sweep", (s, d) => {
      val exact = ngramPairGraph(s, d)._1
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      def audit(nh: Int, nb: Int): DataFrame =
        Dedup.minHashEstimatedPairs(t(s, d, "documents"), "doc_id", "text",
            numHashes = nh, bands = nb, threshold = 0.5,
            metricName = Some(s"graft_minhash_sweep_$nh"))
          .select(col("id_a"), col("id_b"), lit(1L).as("__m"))
          .join(exact, Seq("id_a", "id_b"), "full_outer")
          .agg(
            count(lit(1)).as("n_union"),
            sum(when(col("__m").isNotNull && col("__e").isNotNull, 1L)
              .otherwise(0L)).as("n_both"),
            sum(when(col("__e").isNull, 1L).otherwise(0L)).as("n_minhash_only"),
            sum(when(col("__m").isNull, 1L).otherwise(0L)).as("n_exact_only"))
          .select(lit(nh.toLong).as("n_hashes"), col("n_union"),
            col("n_both"), col("n_minhash_only"), col("n_exact_only"))
      audit(64, 16).unionAll(audit(16, 4))
    },
      // both signature widths against the same live exact-pair CTE;
      // goldens are the 64- and 16-hash kernel replays
      """WITH ck AS (SELECT CAST(sum((doc_id+1)*length(text)) AS BIGINT) AS k FROM documents WHERE text IS NOT NULL),
        |g64 AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |g16 AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/minhash_est_pairs16.parquet') gg, ck
        |  WHERE gg.corpus_key = ck.k),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), ex AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |), f64 AS (
        |  SELECT g64.id_a AS ma, ex.id_a AS ea
        |  FROM g64 FULL OUTER JOIN ex
        |    ON g64.id_a = ex.id_a AND g64.id_b = ex.id_b),
        |f16 AS (
        |  SELECT g16.id_a AS ma, ex.id_a AS ea
        |  FROM g16 FULL OUTER JOIN ex
        |    ON g16.id_a = ex.id_a AND g16.id_b = ex.id_b)
        |SELECT CAST(64 AS BIGINT) AS n_hashes,
        |  CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN ma IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
        |  CAST(sum(CASE WHEN ma IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f64
        |UNION ALL
        |SELECT CAST(16 AS BIGINT) AS n_hashes,
        |  CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(CASE WHEN ma IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
        |  CAST(sum(CASE WHEN ma IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
        |FROM f16""".stripMargin),

    // Embedding-cosine near-dups via hyperplane LSH — rows-only.
    // threshold tuned to the synthetic corpus (max pairwise cosine ~0.51;
    // 271 pairs >= 0.35 at sf0.01) so the check is non-vacuous.
    CatalogEntry("x_dedup_embedding", (s, d) => {
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, planes = 6, tables = 8)
    },
      """WITH ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings)
        |SELECT id_a, id_b, cosine
        |FROM read_parquet('/root/repo/tools/golden/embedding_pairs.parquet') g, ck
        |WHERE g.corpus_key = ck.k""".stripMargin),

    // SemDeDup-shaped semantic dedup: embedding near-dup pairs (same
    // verified-exact params as x_dedup_embedding) → connected components
    // → one min-id survivor per cluster. Oracle derives components from
    // the committed golden pair set (the same corpus-keyed golden
    // x_dedup_embedding hash-matches — pair membership is float-near-
    // threshold, so live DuckDB cosine could flip a borderline pair;
    // the component/survivor logic on top is pure set algebra).
    CatalogEntry("x_semantic_dedup", (s, d) => {
      Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, planes = 6, tables = 8)
        .select(col("vec_id"))
    },
      // components over the corpus-keyed golden pair set (same recursive
      // min-label closure as x_dedup_clusters), survivors = every vec_id
      // that is not a non-root cluster member
      """WITH RECURSIVE ck AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 281474976710656) AS BIGINT)) AS BIGINT) AS k FROM embeddings),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM read_parquet('/root/repo/tools/golden/embedding_pairs.parquet') g, ck
        |  WHERE g.corpus_key = ck.k
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
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM comps WHERE id <> comp)""".stripMargin),

    // The MINHASH leg of index compaction, driver-visible (r17 verdict
    // #6 — the layout was ScalaTest-only): repack the staged seed
    // MinHash index (bands/ and shingles/ re-packed into disjoint key-range
    // files, parameters + marker preserved — IndexCompaction.compactIndex
    // rewrites every dataset the manifest lists) and probe the COMPACTED index
    // with the non-seed docs. Compaction permutes file placement only:
    // every posting/shingle row survives (including per-increment
    // bucket_size values — the maxBucket cap is a per-row filter), so
    // the probe is bit-identical to one over the fragmented stage
    // (IndexCompactionSpec pins it) and the entry shares the
    // exact-Jaccard probe oracle (the x_dedup_incremental formulation
    // over the %4 split). io-classified: repack write + probe read.
    CatalogEntry("x_minhash_compact", (s, d) => {
      val work = Harness.runDir("x_minhash_compact")
      val compacted = work.resolve("idx").toString
      graft.sources.IndexCompaction.compactIndex(
        s, seedDedupIndex(s, d), compacted)
      val batch = t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
      Dedup.minHashProbeIndex(s, batch, "doc_id", "text", compacted,
          bands = 32, threshold = 0.5)
        .select(col("batch_id"), col("corpus_id"), col("jaccard"))
    },
      // compaction permutes file placement only — the probe over the
      // repacked seed index matches the same exact-Jaccard formulation,
      // restricted to (non-seed batch, seed-class corpus) cross pairs
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |)
        |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
        |  CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) AS jaccard
        |FROM sh b JOIN sh a ON b.doc_id % 4 <> 0 AND a.doc_id % 4 = 0
        |WHERE CAST(len(list_intersect(b.s, a.s)) AS DOUBLE) /
        |    (len(b.s) + len(a.s) - len(list_intersect(b.s, a.s))) >= 0.5""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // Near-dup similarity histogram off the shared pair graph: pairs
    // per jaccard decile — the threshold-tuning curve a curator reads
    // before picking the dedup cutoff. One tiny agg over the
    // pair-bounded cached frame.
    CatalogEntry("x_dedup_thresholds", (s, d) =>
      ngramPairGraph(s, d)._1
        .groupBy(least(lit(10L), floor(col("jaccard") * 10).cast(LongType))
          .as("sim_decile"))
        .agg(count(lit(1)).as("n_pairs")),
      // jaccard double is bit-identical to the engine's (same
      // intersection/union division), so its decile floor matches
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), pairs AS (
        |  SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5)
        |SELECT least(10, CAST(floor(j * 10) AS BIGINT)) AS sim_decile,
        |       count(*) AS n_pairs
        |FROM pairs GROUP BY 1""".stripMargin),

    // Prefix-blocking collision profile: 50-char text-prefix group
    // sizes — the cheap near-exact-dup blocking key's selectivity
    // (how many candidates a prefix block would generate), read
    // before choosing it over shingle blocking.
    CatalogEntry("x_prefix_groups", (s, d) =>
      t(s, d, "documents")
        .groupBy(substring(col("text"), 1, 50).as("__p"))
        .agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups")),
      """WITH g AS (
        |  SELECT substring(text, 1, 50) AS p, count(*) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT CAST(group_size AS BIGINT) AS group_size,
        |  count(*) AS n_groups
        |FROM g GROUP BY 1""".stripMargin),

    // Intra-doc line dedup stats: lines vs first-occurrence-distinct
    // lines per doc (the boilerplate-line-removal transform's
    // before/after counts) — pure per-row array work, no shuffle at
    // all until the dump.
    CatalogEntry("x_dedup_lines", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), "\n", -1)).cast(LongType).as("n_lines"),
        size(array_distinct(split(col("text"), "\n", -1)))
          .cast(LongType).as("n_kept")),
      """SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT)
        |    AS n_kept
        |FROM documents""".stripMargin),

    // Canonicalization lift on exact dedup: inject an upper-cased,
    // control-junk-suffixed copy of every 5th doc, then count distinct
    // raw texts vs distinct canonical keys (lower ∘ normalizeText) —
    // the measurement that justifies normalizing BEFORE hashing in an
    // exact-dedup pass. countDistinct over full text is the honest
    // formulation at this SF; at 100 TB hash the canonical key first.
    CatalogEntry("x_canon_dedup", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dirty = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(upper(col("text")), lit("\t\u0007 ")).as("text"))
      docs.unionAll(dirty).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_raw_distinct"),
        countDistinct(
          lower(graft.functions.VectorFunctions.normalizeText(col("text"))))
          .as("n_canon_distinct"))
    },
      // same dirty-copy injection; canonical key = lower(trim(collapse(
      // scrub(nfc(text))))) — the x_normalize_text pipeline + lower
      """WITH aug AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT upper(text) || chr(9) || chr(7) || ' '
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT count(*) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT lower(trim(regexp_replace(regexp_replace(
        |    nfc_normalize(text), '[\x00-\x1f\x7f-\x9f]', ' ', 'g'),
        |    '\s+', ' ', 'g')))) AS BIGINT) AS n_canon_distinct
        |FROM aug""".stripMargin),

    // End-to-end corpus prep: exact dedup -> MinHash near-dup removal
    // (keep the lower id of each near-dup pair) -> quality floor ->
    // per-language survivor stats. The composition a real training-data
    // pipeline runs. Fully oracle-checked (r4): the near-dup stage is
    // exact-set-equivalent on this corpus (see x_dedup_minhash) and the
    // quality score is portable arithmetic (least/greatest/round over
    // int-derived doubles, same operation order both engines).
    CatalogEntry("x_corpus_prep", (s, d) => {
      val docs = t(s, d, "documents")
      // near-dup pairs subsume exact dups (jaccard 1.0 >= threshold) for
      // shingle-bearing docs, so drop pair losers first, then exact-dedup
      // the survivors to catch short shingle-less docs — each stage
      // consumes the previous exactly once (no recomputed subtree)
      val nearDupLosers = Dedup.minHashNearDups(
        docs, "doc_id", "text", threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      val surviving = Dedup.exactDedup(
        docs.join(nearDupLosers, Seq("doc_id"), "left_anti"),
        "doc_id", Seq("text"))
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
      surviving
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
    },
      // the full corpus-prep composition, stage by stage: exact shingle
      // jaccard replaces the LSH candidate stage (set-equivalent on this
      // corpus — every true pair sits at j>=0.9, see x_dedup_minhash),
      // then lowest-id-per-text exact dedup, then the quality formula
      // verbatim (Java \p{Punct} == the ASCII ranges [!-/:-@[-`{-~])
      """WITH toks AS (
        |  SELECT doc_id, text, lang,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), losers AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
        |), surviving0 AS (
        |  SELECT * FROM toks WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |), surviving AS (
        |  SELECT * FROM surviving0
        |  WHERE doc_id IN (SELECT min(doc_id) FROM surviving0 GROUP BY text)
        |), scored AS (
        |  -- n_tok counts the UNFILTERED split (Spark's tokenCount keeps
        |  -- empty tokens from tab/newline-edged text); the filtered ts
        |  -- is only for shingles, which Java-trim their input
        |  SELECT *,
        |    CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) = 0 OR trim(text) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(ts, t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio
        |  FROM surviving
        |), quality AS (
        |  SELECT *,
        |    round(least(CAST(n_tok AS DOUBLE)/100.0, 1.0)*0.4
        |      + greatest(0.0, 1.0 - punct_ratio*5.0)*0.4
        |      + least(stop_ratio*4.0, 1.0)*0.2, 4) AS q
        |  FROM scored
        |)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM quality WHERE q >= 0.3 GROUP BY lang""".stripMargin),

    // Fingerprint group-size histogram: how large the normalized-
    // exact duplicate groups run (whitespace-normalized rolling-hash
    // identity, the x_fingerprint contract) — the size-2 mass is
    // mirror pairs, a heavy tail means template spam. Two aggs.
    CatalogEntry("x_fingerprint_groups", (s, d) =>
      t(s, d, "documents")
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups")),
      """WITH g AS (
        |  SELECT regexp_replace(trim(text), '\s+', ' ', 'g') AS fp,
        |    count(*) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT group_size, count(*) AS n_groups
        |FROM g GROUP BY 1""".stripMargin),

    // Exact-content redundancy per source: docs vs distinct text
    // payloads — the byte-level re-crawl factor next to
    // x_dup_rate_by_source's NEAR-dup view (a source can be exact-
    // clean yet near-dup-heavy, and the dedup strategy differs).
    // One agg; countDistinct shuffles hashed texts, never pairs.
    CatalogEntry("x_redundancy_by_source", (s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct_texts")),
      """SELECT source, count(*) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
        |FROM documents GROUP BY 1""".stripMargin),

    // Cross-document repeated passages (exact-substring dedup family):
    // maximal token spans whose every 8-token window recurs verbatim in
    // >= 2 distinct docs. One corpus-wide shuffle (groupBy window text);
    // the island merge is a per-document window. Oracle replays the
    // window emission + distinct-doc count + gaps-and-islands merge.
    // Served from the shared span frame (see [[passageSpans]]) — the
    // detection shuffle runs once per session; the cut entry reuses it.
    CatalogEntry("x_dup_passages", (s, d) => passageSpans(s, d),
      // stride-1 8-token windows (full windows only), duplicated when the
      // exact text occurs in >= 2 distinct docs; overlapping/adjacent
      // duplicated windows (start gap <= 8) merge into maximal spans via
      // gaps-and-islands
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, CAST(j AS INTEGER) AS j, array_to_string(ts[j+1 : j+8], ' ') AS w
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS j FROM toks WHERE len(ts) >= 8)
        |), dup AS (
        |  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT doc_id, j FROM wins WHERE w IN (SELECT w FROM dup)
        |), isl AS (
        |  SELECT doc_id, j, CASE WHEN lag(j) OVER (PARTITION BY doc_id ORDER BY j) IS NULL
        |      OR j - lag(j) OVER (PARTITION BY doc_id ORDER BY j) > 8 THEN 1 ELSE 0 END AS f
        |  FROM hits
        |), grp AS (
        |  SELECT doc_id, j, sum(f) OVER (PARTITION BY doc_id ORDER BY j) AS g FROM isl
        |)
        |SELECT doc_id, CAST(min(j) AS INTEGER) AS span_start,
        |  CAST(max(j) + 8 AS INTEGER) AS span_end, count(*) AS n_dup_windows
        |FROM grp GROUP BY doc_id, g""".stripMargin),

    // The cut step over the same spans: every document rewritten with
    // its duplicated passages deleted (tokens outside all spans, joined
    // by single spaces — exact strings oracle-compared). One equi-join
    // touches the corpus; the cut is a per-row projection.
    CatalogEntry("x_cut_passages", (s, d) => {
      Dedup.cutDuplicatePassages(t(s, d, "documents"), "doc_id", "text",
        passageSpans(s, d), n = 8)
    },
      // same span derivation, then: explode tokens with their index,
      // anti-join the span ranges (spans are disjoint islands, so the
      // left-join-null formulation is an exact anti-join), reassemble in
      // index order; docs with zero tokens or zero kept tokens surface
      // with clean_text = ''
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, CAST(j AS INTEGER) AS j, array_to_string(ts[j+1 : j+8], ' ') AS w
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS j FROM toks WHERE len(ts) >= 8)
        |), dup AS (
        |  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT doc_id, j FROM wins WHERE w IN (SELECT w FROM dup)
        |), isl AS (
        |  SELECT doc_id, j, CASE WHEN lag(j) OVER (PARTITION BY doc_id ORDER BY j) IS NULL
        |      OR j - lag(j) OVER (PARTITION BY doc_id ORDER BY j) > 8 THEN 1 ELSE 0 END AS f
        |  FROM hits
        |), grp AS (
        |  SELECT doc_id, j, sum(f) OVER (PARTITION BY doc_id ORDER BY j) AS g FROM isl
        |), spans AS (
        |  SELECT doc_id, min(j) AS s, max(j) + 8 AS e FROM grp GROUP BY doc_id, g
        |), tok AS (
        |  SELECT doc_id, ts[i+1] AS tok, CAST(i AS BIGINT) AS idx
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts))) AS i FROM toks)
        |), keep AS (
        |  SELECT k.doc_id, k.tok, k.idx
        |  FROM tok k LEFT JOIN spans s
        |    ON k.doc_id = s.doc_id AND k.idx >= s.s AND k.idx < s.e
        |  WHERE s.doc_id IS NULL
        |), agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS ct, count(*) AS nk
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT t.doc_id, coalesce(a.ct, '') AS clean_text,
        |  CAST(coalesce(a.nk, 0) AS INTEGER) AS n_kept_tokens,
        |  CAST(len(t.ts) - coalesce(a.nk, 0) AS INTEGER) AS n_removed_tokens
        |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin),

    // Benchmark decontamination: docs sharing 5-gram shingles with the
    // "eval set" (doc_id < 20). Exact-membership oracle; the ratio is a
    // single int/int IEEE division (bit-identical cross-engine).
    CatalogEntry("x_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Contamination.overlapCounts(
        docs.filter(col("doc_id") >= 20), "doc_id", "text",
        docs.filter(col("doc_id") < 20), "text", n = 5)
        .select(col("id").as("doc_id"), col("n_overlap"),
          col("n_shingles"), col("overlap_ratio"))
    },
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ts)-4),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4])) AS s
        |  FROM toks WHERE len(ts) >= 5
        |), bench AS (
        |  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 20
        |), corpus AS (
        |  SELECT doc_id, len(s) AS n_shingles, unnest(s) AS shingle FROM sh WHERE doc_id >= 20
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap,
        |  CAST(n_shingles AS BIGINT) AS n_shingles,
        |  CAST(count(*) AS DOUBLE) / n_shingles AS overlap_ratio
        |FROM corpus JOIN bench USING (shingle)
        |GROUP BY doc_id, n_shingles""".stripMargin),

    // Bloom-path decontamination: same contamination semantics as
    // x_decontaminate but the benchmark shingles collapse to a bloom
    // filter (fixed MBs at ANY benchmark size) probed by a kernel —
    // the eval-suite-too-big-to-broadcast shape. fpp=1e-9 keeps the
    // EXPECTED false-positive count ~1e-3 even at ~1e6 distinct corpus
    // probes (r8 ran fpp=1e-6, where E[FP] ~ 1 — the hash match was an
    // empirical property of the fixed seed that could break at other
    // scale factors), so the EXACT kept-set SQL is a sound hash oracle
    // across the testdata SFs, a few MB of filter either way; removal
    // is a superset of exact by construction at any fpp (spec-pinned).
    CatalogEntry("x_decontaminate_bloom", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Contamination.decontaminateBloom(
          docs.filter(col("doc_id") >= 20), "doc_id", "text",
          docs.filter(col("doc_id") < 20), "text", n = 5,
          expectedShingles = 1000000L, fpp = 1e-9)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    },
      // exact kept-set SQL — valid for the bloom entry because fpp=1e-9
      // keeps the expected FP count ~1e-3 at ~1e6 distinct probes (zero
      // observed), robust across SFs rather than seed-lucky
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ts)-4),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4])) AS s
        |  FROM toks WHERE len(ts) >= 5
        |), bench AS (
        |  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 20
        |), flagged AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 20)
        |  JOIN bench USING (shingle))
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |GROUP BY lang""".stripMargin),

    // Document fingerprints (rolling hash). The hash VALUES are
    // engine-specific, but the equality PARTITION they induce is not:
    // equal fingerprints ⇔ equal whitespace-token sequences (mod
    // collisions — none at oracle scale). So the catalog emits each
    // doc's group representative (min doc_id over its fingerprint
    // group), which DuckDB reproduces exactly by partitioning on the
    // whitespace-normalized text — a full hash-match oracle for a query
    // whose raw output is unportable. One shuffle (window on the
    // fingerprint key).
    CatalogEntry("x_fingerprint", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .withColumn("group_rep",
          min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
        .select(col("doc_id"), col("group_rep"))
    },
      // fingerprint-group invariant: equal rolling-hash fingerprints ⇔
      // equal whitespace-token sequences ⇔ equal whitespace-normalized
      // text, so the group representative is engine-independent even
      // though the fingerprint values are not
      """SELECT doc_id,
        |  min(doc_id) OVER (
        |    PARTITION BY regexp_replace(trim(text), '\s+', ' ', 'g')) AS group_rep
        |FROM documents""".stripMargin)
  )
}
