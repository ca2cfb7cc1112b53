package graft.queries

import graft.operators.Parallelism.widen
import graft.operators.{Drift, HeavyHitters, Multimodal, NgramLm, QualityClassifier, TextAnalysis}
import graft.queries.Queries._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text and quality: tokens, vocabularies, language ID, LM and Gopher
  * quality signals, retrieval scoring, PII and multimodal payloads.
  */
private[queries] object TextEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // Text analysis: integer token stats per document (SQL-safe subset of
    // TextAnalysis.documentFeatures; float features asserted in tests).
    CatalogEntry("x_text_tokens", (s, d) => {
      val docs = t(s, d, "documents")
      docs.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish_tokens"),
        TextAnalysis.markerHits(TextAnalysis.tokens(lower(col("text"))),
          TextAnalysis.stopwordsEn).as("n_stopwords"))
    },
      """SELECT doc_id,
        |CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish_tokens,
        |len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that')))
        |  AS n_stopwords
        |FROM documents""".stripMargin),

    // Token budget table per source: docs and whitespace tokens — the
    // first table of any mixture plan (how many tokens each source can
    // contribute before it starts repeating). Null-text docs count as
    // docs but contribute no tokens on either side. One map-side-
    // combined agg over the codegen'd token-count kernel.
    CatalogEntry("x_tokens_per_source", (s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType))
            .as("n_tokens")),
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |    AS n_tokens
        |FROM documents GROUP BY 1""".stripMargin),

    // Vocabulary building: top-100 corpus tokens by frequency with a
    // deterministic tie-break — map-side-combined hash agg plus a
    // TakeOrderedAndProject, never a full sort of the token multiset.
    CatalogEntry("x_vocab_topk", (s, d) => {
      TextAnalysis.vocabulary(t(s, d, "documents"), "text", 100)
    },
      """SELECT t AS token, count(*) AS freq
        |FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS t
        |      FROM documents)
        |GROUP BY t
        |ORDER BY freq DESC, token ASC
        |LIMIT 100""".stripMargin),

    // Exact heavy hitters: tokens holding >= 0.2% of the corpus token
    // stream, via the two-phase Misra-Gries candidates + exact-recount
    // scheme (bounded shuffle — never a full distinct-token groupBy).
    // Counts are exact, so the oracle is the plain HAVING query.
    CatalogEntry("x_heavy_hitters", (s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      HeavyHitters.heavyHitters(toks, "token", minShare = 0.002)
        .select(col("item").as("token"), col("cnt"))
    },
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM toks)
        |SELECT token, count(*) AS cnt
        |FROM toks CROSS JOIN n
        |GROUP BY token, total
        |HAVING count(*) >= ceil(0.002 * total)""".stripMargin),

    // Adjacent-token bigram collocations: the 20 most frequent
    // bigrams with their unigram counts — the corpus statistic behind
    // PMI/collocation scoring (the log itself is driver arithmetic;
    // the expensive corpus passes are these exact integer counts).
    // Bigrams explode in-row (no join to reconstruct adjacency); the
    // 20-row top-k is a TakeOrderedAndProject and broadcasts against
    // the unigram vocabulary.
    CatalogEntry("x_bigram_colloc", (s, d) => {
      val docs = t(s, d, "documents")
      val bi = docs
        .select(TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val top = bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_pair"))
        .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
        .limit(20)
      val uni = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      // enrich the 20-row top frame by streaming the vocabulary past
      // it twice — the pair side is always the broadcast build side
      val j1 = uni.select(col("w").as("w1"), col("n").as("n_w1"))
        .join(broadcast(top), "w1")
      uni.select(col("w").as("w2"), col("n").as("n_w2"))
        .join(broadcast(j1), "w2")
        .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"))
    },
      // same whitespace tokenization as x_vocab_topk; bigrams formed
      // in-list (interior empty tokens are impossible after trim+split,
      // so filtering empties before vs after pairing agrees)
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t <> '') AS ts
        |  FROM documents),
        |bi AS (
        |  SELECT b[1] AS w1, b[2] AS w2
        |  FROM (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |          i -> [ts[i], ts[i+1]])) AS b
        |        FROM toks WHERE len(ts) >= 2)),
        |top AS (
        |  SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2
        |  ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT 20),
        |uni AS (
        |  SELECT t AS w, count(*) AS n
        |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t)
        |SELECT top.w1, top.w2, CAST(top.n_pair AS BIGINT) AS n_pair,
        |  CAST(u1.n AS BIGINT) AS n_w1, CAST(u2.n AS BIGINT) AS n_w2
        |FROM top JOIN uni u1 ON u1.w = top.w1
        |         JOIN uni u2 ON u2.w = top.w2""".stripMargin),

    // Out-of-vocabulary rate per language against the top-200 corpus
    // vocabulary — the tokenizer-coverage audit run before committing
    // a vocab size. Vocabulary is k rows → broadcast presence join;
    // one shuffle for the per-lang counts. Integers only.
    CatalogEntry("x_oov_rate", (s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val vocab = TextAnalysis.vocabulary(docs, "text", 200)
        .select(col("token"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    },
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS freq FROM toks GROUP BY token
        |    ORDER BY freq DESC, token ASC LIMIT 200))
        |SELECT t.lang, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov
        |FROM toks t LEFT JOIN v ON t.token = v.token
        |GROUP BY t.lang""".stripMargin),

    // CCNet-style char-trigram LM quality score: per-lang top-500
    // trigram model trained on the corpus itself, each doc scored by
    // average model frequency of its trigrams (rational arithmetic —
    // exact long sums, one final IEEE division — so the doubles
    // hash-match the oracle; see NgramLm scaladoc).
    CatalogEntry("x_lm_score", (s, d) => {
      // widened: the trigram scoring kernel, not the scan, is the cost
      val docs = widen(t(s, d, "documents"))
      NgramLm.score(docs, "doc_id", "lang", "text", lmModel(s, d), n = 3)
    },
      // trigram index range iterates len(lower(text)) — the engine kernel
      // walks the LOWERED string, and Unicode lowercasing can change
      // length (e.g. U+0130 -> i + combining dot); len(text) would
      // silently diverge on such corpora (latent on this ASCII testdata)
      """WITH tri AS (
        |  SELECT doc_id, lang,
        |    unnest([substr(lt, i, 3) for i in range(1, len(lt) - 1)]) AS tg
        |  FROM (SELECT doc_id, lang, lower(text) AS lt FROM documents)
        |  WHERE len(lt) >= 3),
        |model AS (
        |  SELECT lang, tg, tg_cnt FROM (
        |    SELECT lang, tg, count(*) AS tg_cnt,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY count(*) DESC, tg ASC) AS rn
        |    FROM tri GROUP BY lang, tg) WHERE rn <= 500),
        |per_doc AS (
        |  SELECT t.doc_id,
        |    CAST(COALESCE(sum(m.tg_cnt), 0) AS DOUBLE) / count(*) AS lm_score
        |  FROM tri t LEFT JOIN model m USING (lang, tg)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, COALESCE(p.lm_score, 0.0) AS lm_score
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin),

    // CCNet head/middle/tail banding: per-lang score TERCILES cut the
    // corpus, thresholds broadcast back — the corpus never sorts and
    // never funnels through per-lang window tasks. Exact percentile on
    // both engines (type-7 interpolation).
    CatalogEntry("x_quality_bands", (s, d) => {
      // widened: the trigram scoring kernel, not the scan, is the cost
      val docs = widen(t(s, d, "documents"))
      NgramLm.qualityBuckets(docs, "doc_id", "lang", "text", lmModel(s, d),
        n = 3)
    },
      // the x_lm_score derivation + per-lang tercile cuts (quantile_cont
      // = Spark percentile, both type-7 linear interpolation)
      """WITH tri AS (
        |  SELECT doc_id, lang,
        |    unnest([substr(lt, i, 3) for i in range(1, len(lt) - 1)]) AS tg
        |  FROM (SELECT doc_id, lang, lower(text) AS lt FROM documents)
        |  WHERE len(lt) >= 3),
        |model AS (
        |  SELECT lang, tg, tg_cnt FROM (
        |    SELECT lang, tg, count(*) AS tg_cnt,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY count(*) DESC, tg ASC) AS rn
        |    FROM tri GROUP BY lang, tg) WHERE rn <= 500),
        |per_doc AS (
        |  SELECT t.doc_id,
        |    CAST(COALESCE(sum(m.tg_cnt), 0) AS DOUBLE) / count(*) AS lm_score
        |  FROM tri t LEFT JOIN model m USING (lang, tg)
        |  GROUP BY t.doc_id),
        |scored AS (
        |  SELECT d.doc_id, d.lang, COALESCE(p.lm_score, 0.0) AS lm_score
        |  FROM documents d LEFT JOIN per_doc p USING (doc_id)),
        |ranked AS (
        |  SELECT lang, lm_score,
        |    row_number() OVER (PARTITION BY lang ORDER BY lm_score) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored),
        |cuts AS (
        |  -- order-statistic terciles, rank ceil(q*n), mirrors
        |  -- Quantiles.groupedExactQuantile's rank convention (the
        |  -- value at a rank is tie-order-independent)
        |  SELECT lang,
        |    max(CASE WHEN rnk = greatest(1, CAST(ceil((2.0/3) * n) AS BIGINT))
        |             THEN lm_score END) AS q_hi,
        |    max(CASE WHEN rnk = greatest(1, CAST(ceil((1.0/3) * n) AS BIGINT))
        |             THEN lm_score END) AS q_lo
        |  FROM ranked GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.lm_score,
        |  CASE WHEN s.lm_score >= c.q_hi THEN 'head'
        |       WHEN s.lm_score >= c.q_lo THEN 'middle'
        |       ELSE 'tail' END AS quality_band
        |FROM scored s JOIN cuts c USING (lang)""".stripMargin),

    // Fixed-size token windows with stride (16-token chunks every 12 —
    // 4-token overlap): the RAG/embedding chunking step. Pure kernel
    // projection + posexplode; chunk boundaries and the rejoined text
    // are deterministic integer/string work the oracle replays with
    // list slicing.
    CatalogEntry("x_chunk_windows", (s, d) => {
      TextAnalysis.chunkWindows(t(s, d, "documents"), "doc_id", "text",
        size = 16, stride = 12)
    },
      // chunk count = 1 + ceil(max(0, m-size)/stride) in INTEGER math
      // (the kernel's emission rule: last chunk is the one reaching the
      // final token); DuckDB list slices are 1-based inclusive
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, ts, len(ts) AS m FROM toks WHERE len(ts) > 0
        |), starts AS (
        |  SELECT doc_id, ts, m,
        |    unnest(range(0, 1 + (greatest(0, m - 16) + 11) // 12)) AS j
        |  FROM nz
        |)
        |SELECT doc_id, CAST(j AS INTEGER) AS chunk_idx,
        |  array_to_string(ts[j*12 + 1 : least(j*12 + 16, m)], ' ') AS chunk_text,
        |  CAST(least(j*12 + 16, m) - j*12 AS INTEGER) AS n_chunk_tokens
        |FROM starts""".stripMargin),

    // Corpus text normalization: NFC + control-char scrub + whitespace
    // collapse via the NormalizeTextExpr kernel, over documents
    // deterministically augmented with the mess the kernel exists for
    // (tabs, a BEL control, a DECOMPOSED e+combining-acute, trailing
    // runs). The oracle replays the exact chain with nfc_normalize +
    // regexp_replace — including the composed-vs-decomposed é.
    CatalogEntry("x_normalize_text", (s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit("\t badly\u0007 spaced e\u0301"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("  trailing  "))
            .otherwise(lit(""))).as("t"))
      aug.select(col("doc_id"),
          graft.functions.VectorFunctions.normalizeText(col("t")).as("text_norm"))
        .withColumn("n_chars_norm", length(col("text_norm")).cast(LongType))
    },
      // chr(9)=tab, chr(7)=BEL, chr(769)=combining acute: the oracle
      // builds the same decomposed mess and replays the normalize chain
      """WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN chr(9) || ' badly' || chr(7) || ' spaced e' || chr(769)
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN '  trailing  ' ELSE '' END AS t
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(t),
        |      '[\x00-\x1f\x7f-\x9f]', ' ', 'g'), '\s+', ' ', 'g')) AS text_norm
        |  FROM aug)
        |SELECT doc_id, text_norm,
        |  CAST(length(text_norm) AS BIGINT) AS n_chars_norm
        |FROM norm""".stripMargin),

    // TF-IDF keyword extraction: top-5 terms per document. Uses the
    // rational-idf variant (one exact multiply + one IEEE division) so
    // the float score is bit-reproducible across engines — the classic
    // log-idf variant is spec-pinned instead (ln differs in final ulps
    // between libm and the JVM, which would make a hash oracle flaky).
    CatalogEntry("x_tfidf_topk", (s, d) => {
      TextAnalysis.tfidfTopK(t(s, d, "documents"), "doc_id", "text",
          k = 5, logIdf = false)
        .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
          col("token"), col("tf"), col("df"), col("score"))
    },
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) *
        |      (CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, token, tf, df, score FROM ranked WHERE rank <= 5""".stripMargin),

    // Text analysis rollup per language tag.
    CatalogEntry("x_text_stats", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
    },
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin),

    // Character-class profile per language: total chars, digits,
    // ASCII letters, spaces — the alphabet-level quality signal next
    // to x_text_stats' token view (a crawl whose digit or non-letter
    // share jumps is machine-generated or mis-decoded). Counts via
    // codegen'd regexp_replace length deltas; integers only.
    CatalogEntry("x_char_classes", (s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          sum(length(col("text")).cast(LongType)).as("n_chars"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", "")))
            .cast(LongType)).as("n_digits"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .cast(LongType)).as("n_ascii_letters"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), " ", "")))
            .cast(LongType)).as("n_spaces")),
      // class counts as replace-and-measure length deltas ('g' for
      // global — DuckDB's regexp_replace is first-match by default)
      """SELECT lang, CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT) AS n_digits,
        |  CAST(sum(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT) AS n_ascii_letters,
        |  CAST(sum(length(text) - length(regexp_replace(text, ' ', '', 'g'))) AS BIGINT) AS n_spaces
        |FROM documents GROUP BY lang""".stripMargin),

    // Flesch–Kincaid-style readability: three codegen'd regex counters
    // + fixed-order IEEE arithmetic (no rounding — bit-identical).
    CatalogEntry("x_readability", (s, d) =>
      TextAnalysis.readability(t(s, d, "documents"), "doc_id", "text"),
      // same token-count formula as x_text_stats; sentence/syllable
      // counters are regex-run counts; fk arithmetic mirrors the
      // engine's evaluation order term for term (bare IEEE doubles)
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  0.39 * (CAST(n_words AS DOUBLE) / CAST(greatest(1, n_sentences) AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(greatest(1, n_words) AS DOUBLE))
        |    - 15.59 AS fk_grade
        |FROM c""".stripMargin),

    // Per-source data card: the dataset-release summary (docs, langs,
    // distinct texts on a 128-bit content hash, token/char totals) in
    // ONE map-side-combined aggregate.
    CatalogEntry("x_data_card", (s, d) =>
      graft.operators.Profiler.corpusCard(
        t(s, d, "documents"), "source", "lang", "text", "n_chars"),
      """SELECT source,
        |  count(*) AS n_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT md5(text)) AS n_distinct_texts,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin),

    // Language-ID marker hits (integer features; argmax tested in Scala).
    CatalogEntry("x_lang_marker_hits", (s, d) => {
      val langs = Seq("en", "de", "fr", "es")
      val hits = graft.functions.VectorFunctions.multiTokenSetCount(
        TextAnalysis.tokens(lower(col("text"))),
        langs.map(TextAnalysis.langMarkers))
      t(s, d, "documents")
        .select(col("doc_id"), hits.as("h"))
        .select(col("doc_id") +: langs.zipWithIndex.map {
          case (l, i) => col("h").getItem(i).as(s"${l}_hits") }: _*)
    },
      """SELECT doc_id,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('the','and','of','to','is','in','that','it','with','for'))) AS en_hits,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS de_hits,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('le','la','les','et','est','une','pour','dans','que','des'))) AS fr_hits,
        |len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('el','la','los','las','es','una','para','que','por','con'))) AS es_hits
        |FROM documents""".stripMargin),

    // Language-ID confusion matrix: labeled lang × predicted lang
    // (marker-argmax heuristic, ties to the lexicographically largest
    // language, "und" when no marker hits) — the audit that tells a
    // curation owner WHERE the cheap classifier fails before it gates
    // a 100 TB filter. One codegen'd pass + one count shuffle.
    CatalogEntry("x_lang_confusion", (s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang").as("label_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .agg(count(lit(1)).as("n_docs")),
      // argmax over (hits, lang): ties go to the lexicographically
      // LARGEST language (the engine's greatest-of-structs order), so
      // the CASE checks fr > es > en > de
      """WITH h AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('the','and','of','to','is','in','that','it','with','for'))) AS h_en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS h_de,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('le','la','les','et','est','une','pour','dans','que','des'))) AS h_fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t IN ('el','la','los','las','es','una','para','que','por','con'))) AS h_es
        |  FROM documents),
        |p AS (
        |  SELECT lang AS label_lang,
        |    CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |         WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
        |         WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
        |         WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
        |         ELSE 'de' END AS pred_lang
        |  FROM h)
        |SELECT label_lang, pred_lang, count(*) AS n_docs
        |FROM p GROUP BY 1, 2""".stripMargin),

    // Token-length histogram per language — the tokenizer diagnostic
    // read before choosing vocab/merge budgets. Integers only; the
    // explode shrinks map-side to distinct (lang, len) pairs.
    CatalogEntry("x_token_len_profile", (s, d) =>
      t(s, d, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"), length(col("tok")).cast(LongType).as("tok_len"))
        .agg(count(lit(1)).as("n_tokens")),
      """SELECT lang, CAST(length(t) AS BIGINT) AS tok_len,
        |  count(*) AS n_tokens
        |FROM (SELECT lang, unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS t
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin),

    // LEXICAL drift between source cohorts: top-100 vocabulary
    // overlap between even- and odd-indexed sources — the
    // vocabulary-level companion to x_chars_drift's length KS (a
    // crawl whose head vocabulary diverges is topically drifting even
    // if its length profile holds). Both vocabularies are k-row
    // TakeOrdered frames; the overlap join is k×k broadcast work.
    CatalogEntry("x_vocab_drift", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("__c",
          (substring(col("source"), 4, 10).cast(IntegerType) % 2))
      val va = TextAnalysis.vocabulary(docs.filter(col("__c") === 0), "text", 100)
        .select(col("token"))
      val vb = TextAnalysis.vocabulary(docs.filter(col("__c") === 1), "text", 100)
        .select(col("token"))
      va.join(broadcast(vb), "token")
        .agg(count(lit(1)).as("n_shared"))
        .select(col("n_shared"), (lit(200L) - col("n_shared")).as("n_union"))
    },
      // two deterministic top-100 vocabularies (freq desc, token asc),
      // intersection count
      """WITH docs AS (
        |  SELECT text, CAST(substring(source, 4) AS INTEGER) % 2 AS c
        |  FROM documents),
        |ta AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM docs WHERE c = 0),
        |tb AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM docs WHERE c = 1),
        |va AS (SELECT token FROM (
        |  SELECT token, count(*) AS f FROM ta GROUP BY 1
        |  ORDER BY f DESC, token ASC LIMIT 100)),
        |vb AS (SELECT token FROM (
        |  SELECT token, count(*) AS f FROM tb GROUP BY 1
        |  ORDER BY f DESC, token ASC LIMIT 100))
        |SELECT CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST(200 - count(*) AS BIGINT) AS n_union
        |FROM va JOIN vb USING (token)""".stripMargin),

    // Cohort drift on a SECOND table: per-language KS statistic of the
    // document-length distribution between even- and odd-indexed
    // sources (crawl cohort A/B) — Drift.ksStatistic reused beyond the
    // event stream. Exact integer numerator, same contract as
    // x_ks_drift.
    CatalogEntry("x_chars_drift", (s, d) =>
      Drift.ksStatistic(
        t(s, d, "documents")
          .withColumn("__v", col("n_chars").cast(DoubleType))
          .withColumn("__s",
            (substring(col("source"), 4, 10).cast(IntegerType) % 2)
              .cast(IntegerType)),
        "lang", "__v", "__s"),
      // same exact-KS construction as x_ks_drift, over document lengths
      // split by even/odd source index
      """WITH e AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS value,
        |    CAST(substring(source, 4) AS INTEGER) % 2 AS s
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (
        |  SELECT lang, value,
        |    sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM e GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang,
        |    sum(c0) OVER (PARTITION BY lang ORDER BY value) AS f0,
        |    sum(c1) OVER (PARTITION BY lang ORDER BY value) AS f1
        |  FROM c),
        |tot AS (SELECT lang, sum(c0) AS n_a, sum(c1) AS n_b FROM c GROUP BY 1)
        |SELECT t.lang, CAST(t.n_a AS BIGINT) AS n_a,
        |  CAST(t.n_b AS BIGINT) AS n_b,
        |  CAST(max(abs(f0 * t.n_b - f1 * t.n_a)) AS BIGINT) AS ks_num
        |FROM cum JOIN tot t USING (lang)
        |GROUP BY t.lang, t.n_a, t.n_b""".stripMargin),

    // Multimodal plumbing: binary payload + byte-level metadata
    // (decode itself is the stubbed mapPartitions path, MultimodalSpec).
    CatalogEntry("x_multimodal_meta", (s, d) => {
      Multimodal.toMediaFrame(t(s, d, "documents"), "doc_id", "text", "image")
        .select(col("media_id"), col("kind"),
          col("meta.n_bytes").as("n_bytes"),
          length(col("payload")).cast(LongType).as("payload_bytes"))
    },
      """SELECT doc_id AS media_id, 'image' AS kind,
        |octet_length(encode(text)) AS n_bytes,
        |octet_length(encode(text)) AS payload_bytes
        |FROM documents""".stripMargin),

    // Full multimodal decode path, end-to-end through the driver: wrap
    // documents as media (both kinds, so both duration branches run),
    // then the byte-budgeted mapPartitions feature extraction. The stub
    // decode is deterministic byte arithmetic, so the ENTIRE frame —
    // width/height/duration and the rolling signed-byte checksum — is
    // hash-verified against a DuckDB re-derivation (hex-string byte
    // access + list_reduce mod 2^64).
    CatalogEntry("x_multimodal_features", (s, d) => {
      val docs = t(s, d, "documents")
      val media = Multimodal
        .toMediaFrame(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "image")
        .unionAll(Multimodal
          .toMediaFrame(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", "video"))
      Multimodal.extractFeatures(s, media)
    },
      // Re-derives the stub decode byte-for-byte: UTF-8 bytes via the hex
      // string (DuckDB has no blob indexing), JVM SIGNED bytes for the
      // checksum (>=128 -> -256), and the Long wraparound as mod 2^64 in
      // HUGEINT mapped back to signed. Seed 1125899906842597 prepended
      // because this DuckDB's list_reduce takes no initial accumulator.
      """WITH b AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS kind,
        |         hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |bytes AS (
        |  SELECT *,
        |    list_transform(regexp_extract_all(hx, '..'), x -> ('0x'||x)::INT) AS ub,
        |    list_transform(regexp_extract_all(hx, '..'),
        |      x -> (CASE WHEN ('0x'||x)::INT >= 128 THEN ('0x'||x)::INT - 256
        |            ELSE ('0x'||x)::INT END)::HUGEINT) AS sb
        |  FROM b),
        |ck AS (
        |  SELECT doc_id, kind, n,
        |    CASE WHEN n = 0 THEN 0 ELSE 64 + (ub[1] & 127) END AS width,
        |    CASE WHEN n = 0 THEN 0 ELSE 64 + (ub[(n // 2) + 1] & 127) END AS height,
        |    list_reduce(list_prepend(1125899906842597::HUGEINT, sb),
        |      (acc, x) -> ((acc * 31 + x) % 18446744073709551616
        |                   + 18446744073709551616) % 18446744073709551616) AS raw
        |  FROM bytes)
        |SELECT doc_id AS media_id, kind, n AS n_bytes, width, height,
        |  CASE WHEN kind = 'image' THEN 0 ELSE n * 10 END AS duration_ms,
        |  CASE WHEN raw >= 9223372036854775808
        |       THEN (raw - 18446744073709551616)::BIGINT
        |       ELSE raw::BIGINT END AS checksum
        |FROM ck""".stripMargin),

    // Frame-sampling offsets: codegen'd sequence + explode, one row per
    // sampled byte offset. Pure integer arithmetic — oracle-exact
    // (DuckDB generate_series has the same inclusive-stop semantics as
    // Spark sequence).
    CatalogEntry("x_multimodal_offsets", (s, d) => {
      Multimodal.sampleOffsets(
        Multimodal.toMediaFrame(t(s, d, "documents"), "doc_id", "text", "video"),
        everyBytes = 256)
    },
      """SELECT doc_id AS media_id,
        |  unnest(generate_series(0, octet_length(encode(text)) - 1, 256)) AS byte_offset
        |FROM documents
        |WHERE octet_length(encode(text)) > 0""".stripMargin),

    // Repetition / boilerplate quality signals (Gopher-style): duplicate
    // -line fraction and top-{2,3}-gram frequency share. The corpus has
    // no newlines, so (as x_pii_redact does for PII) the query injects
    // repeated boilerplate lines into every 7th doc to keep the line
    // signal non-vacuous; the n-gram shares are naturally non-trivial.
    // All three are deterministic integer-ratio arithmetic — hash-
    // verified against a DuckDB re-derivation.
    CatalogEntry("x_repetition_stats", (s, d) => {
      val boiler = "\nsubscribe now\nsubscribe now\nsubscribe now"
      val docs = t(s, d, "documents").withColumn("text2",
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")))
      docs.select(col("doc_id"),
        TextAnalysis.duplicateLineFraction(col("text2")).as("dup_line_frac"),
        TextAnalysis.topNgramFraction(col("text2"), 2).as("top2_frac"),
        TextAnalysis.topNgramFraction(col("text2"), 3).as("top3_frac"))
    },
      // same boilerplate injection as the Spark side; gram keys are
      // space-joined (tokens cannot contain whitespace, so injective);
      // all ratios are int-derived IEEE divisions — bit-identical
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text
        |      || chr(10) || 'subscribe now' || chr(10) || 'subscribe now'
        |      || chr(10) || 'subscribe now' ELSE text END AS text2
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text2) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text2), '\s+') END AS t,
        |    string_split(text2, chr(10)) AS lines
        |  FROM aug),
        |base AS (SELECT doc_id, t, len(t) AS nt,
        |                len(lines) AS nl, len(list_distinct(lines)) AS ndl FROM toks),
        |grams AS (
        |  SELECT doc_id, nl, ndl,
        |    CASE WHEN nt >= 2 THEN list_transform(generate_series(1, nt-1),
        |      i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2,
        |    CASE WHEN nt >= 3 THEN list_transform(generate_series(1, nt-2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE []::VARCHAR[] END AS g3
        |  FROM base)
        |SELECT doc_id,
        |  (nl - ndl)::DOUBLE / nl AS dup_line_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |    (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |  END AS top2_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0 ELSE
        |    (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g3) AS u(x) GROUP BY x)) / len(g3)
        |  END AS top3_frac
        |FROM grams""".stripMargin),

    // The OTHER Gopher repetition axis: fraction of n-gram occurrences
    // that repeat, n = 2,3,4 — a pasted paragraph barely moves the
    // top-gram share (x_repetition_stats) but doubles up every n-gram
    // it contains. Three fused kernel loops in one codegen'd
    // projection; zero shuffle. (grams−distinct)/grams is one int/int
    // IEEE division — bit-exact vs the DuckDB re-derivation.
    CatalogEntry("x_dup_ngram_frac", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.duplicateNgramFraction(col("text"), 2).as("dup2_frac"),
        TextAnalysis.duplicateNgramFraction(col("text"), 3).as("dup3_frac"),
        TextAnalysis.duplicateNgramFraction(col("text"), 4).as("dup4_frac")),
      // (grams − distinct)/grams per n — same n-gram construction as
      // x_repetition_stats' top-gram oracle, distinct-count instead of
      // max-count
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |      i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2,
        |    CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t)-2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE []::VARCHAR[] END AS g3,
        |    CASE WHEN len(t) >= 4 THEN list_transform(generate_series(1, len(t)-3),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) ELSE []::VARCHAR[] END AS g4
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2) END AS dup2_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0
        |       ELSE (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END AS dup3_frac,
        |  CASE WHEN len(g4) = 0 THEN 0.0
        |       ELSE (len(g4) - len(list_distinct(g4)))::DOUBLE / len(g4) END AS dup4_frac
        |FROM grams""".stripMargin),

    // Gopher-rule quality audit (Rae et al. 2021): per-doc signals +
    // one 0/1 flag per rule + the conjunction. Same boilerplate
    // injection as x_repetition_stats so the duplicate-line rule is
    // exercised (the synthetic corpus is single-line); thresholds
    // chosen to split the corpus on EVERY rule (keep rate ~39% at
    // sf0.01 — nothing vacuous). All five signals are int/int IEEE
    // divisions or integer counts, bit-identical cross-engine.
    CatalogEntry("x_gopher_rules", (s, d) => {
      val boiler = "\nsubscribe now\nsubscribe now\nsubscribe now"
      // widened: five text-rule kernels per row, not the scan, are the cost
      val docs = widen(t(s, d, "documents")).withColumn("text2",
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")))
      TextAnalysis.gopherRules(docs, "doc_id", "text2",
        minTokens = 50, maxTokens = 100000,
        minMeanTokLen = 4.0, maxMeanTokLen = 10.0,
        maxTop2Frac = 0.08, maxDupLineFrac = 0.2, minStopHits = 2)
    },
      // Same augmentation + token/line/bigram machinery as
      // x_repetition_stats; adds the distinct-stopword count and the
      // Gopher rule flags (thresholds mirror the catalog entry).
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text
        |      || chr(10) || 'subscribe now' || chr(10) || 'subscribe now'
        |      || chr(10) || 'subscribe now' ELSE text END AS text2
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text2) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text2), '\s+') END AS t,
        |    string_split(text2, chr(10)) AS lines
        |  FROM aug),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id,
        |    nt::INT AS n_tokens,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mean_tok_len,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS top2_frac,
        |    (nl - ndl)::DOUBLE / nl AS dup_line_frac,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s)))::INT AS stop_hits
        |  FROM base),
        |rules AS (
        |  SELECT doc_id, n_tokens, mean_tok_len, top2_frac, dup_line_frac, stop_hits,
        |    CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_token_count,
        |    CASE WHEN mean_tok_len BETWEEN 4.0 AND 10.0 THEN 1 ELSE 0 END AS r_word_len,
        |    CASE WHEN top2_frac <= 0.08 THEN 1 ELSE 0 END AS r_repetition,
        |    CASE WHEN dup_line_frac <= 0.2 THEN 1 ELSE 0 END AS r_boilerplate,
        |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stopwords
        |  FROM sig)
        |SELECT *, r_token_count * r_word_len * r_repetition
        |          * r_boilerplate * r_stopwords AS keep
        |FROM rules""".stripMargin),

    // Filter-bias audit: Gopher rule pass/fail counts PER LANGUAGE —
    // the table a curator reads before shipping an English-tuned
    // filter against a multilingual corpus (stopword and word-length
    // rules systematically fail non-English text; this quantifies the
    // skew instead of discovering it post-training). Same rule kernel
    // and thresholds as x_gopher_rules, via the shared gopherSignals
    // artifact (one kernel pass per corpus per session); one
    // |langs|-bounded agg on top.
    CatalogEntry("x_quality_by_lang", (s, d) => {
      val nn = t(s, d, "documents").filter(col("text").isNotNull)
      val g = gopherSignals(s, d)
      nn.select(col("doc_id"), col("lang")).join(g, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast(LongType)).as("n_keep"),
          sum(lit(1L) - col("r_token_count")).as("n_fail_tokens"),
          sum(lit(1L) - col("r_word_len")).as("n_fail_wordlen"),
          sum(lit(1L) - col("r_repetition")).as("n_fail_rep"),
          sum(lit(1L) - col("r_boilerplate")).as("n_fail_boiler"),
          sum(lit(1L) - col("r_stopwords")).as("n_fail_stop"))
    },
      // same Gopher sig/rules construction, no boilerplate augment,
      // aggregated per language
      """WITH nn AS (SELECT doc_id, lang, text FROM documents
        |  WHERE text IS NOT NULL),
        |toks AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM nn),
        |base AS (
        |  SELECT doc_id, lang, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id, lang, nt,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mtl,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS t2f,
        |    (nl - ndl)::DOUBLE / nl AS dlf,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s))) AS sh
        |  FROM base),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN nt BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS rt,
        |    CASE WHEN mtl BETWEEN 4.0 AND 10.0 THEN 1 ELSE 0 END AS rw,
        |    CASE WHEN t2f <= 0.08 THEN 1 ELSE 0 END AS rr,
        |    CASE WHEN dlf <= 0.2 THEN 1 ELSE 0 END AS rb,
        |    CASE WHEN sh >= 2 THEN 1 ELSE 0 END AS rs
        |  FROM sig)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(rt * rw * rr * rb * rs) AS BIGINT) AS n_keep,
        |  CAST(sum(1 - rt) AS BIGINT) AS n_fail_tokens,
        |  CAST(sum(1 - rw) AS BIGINT) AS n_fail_wordlen,
        |  CAST(sum(1 - rr) AS BIGINT) AS n_fail_rep,
        |  CAST(sum(1 - rb) AS BIGINT) AS n_fail_boiler,
        |  CAST(sum(1 - rs) AS BIGINT) AS n_fail_stop
        |FROM r GROUP BY 1""".stripMargin),

    // Pipeline attrition funnel: how many docs survive each curation
    // stage — all → non-null text → ≥50 tokens → full Gopher keep →
    // exact-dedup survivor among keepers. The one-row capacity
    // planning view (what fraction of raw crawl becomes training
    // text) a 100 TB run prints before committing the mixture. Flag
    // sums ride the same rule kernel; the dedup leg is a text-keyed
    // min-id agg over the ALREADY-FILTERED keep set.
    CatalogEntry("x_filter_funnel", (s, d) => {
      // ONE pass over the doc⋈gopher join: the survivor-dedup count
      // previously referenced the joined frame a second time
      // (re-evaluating the corpus join per reference — r18 plan
      // audit); instead the global totals fold over per-text partials
      // (counts per group sum to the ungrouped totals, and n_unique =
      // texts whose group saw any keep=1). The bare docs count stays
      // its own pass — a footer-answered aggregate.
      val docs = t(s, d, "documents")
      val nn = docs.filter(col("text").isNotNull)
      val g = gopherSignals(s, d)
        .select(col("doc_id"), col("n_tokens"), col("keep"))
      val flags = nn.select(col("doc_id"), col("text")).join(g, "doc_id")
      flags
        .groupBy(col("text"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("n_tokens") >= 50, 1L).otherwise(0L)).as("__mt"),
          sum(col("keep").cast(LongType)).as("__q"),
          // "any keep == 1 in the group", matching the old per-row
          // keep === 1 filter for ANY keep domain — a bare max(keep)
          // === 1 would diverge if keep ever carried a value > 1
          max(when(col("keep") === 1, 1).otherwise(0)).as("__anykeep"))
        .agg(coalesce(sum(col("__n")), lit(0L)).as("n_nonnull"),
          sum(col("__mt")).as("n_min_tokens"),
          sum(col("__q")).as("n_quality"),
          count(when(col("__anykeep") === 1, lit(1))).as("n_unique"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .select(col("n_docs"), col("n_nonnull"), col("n_min_tokens"),
          col("n_quality"), col("n_unique"))
    },
      // same rule kernel again, collapsed to the staged attrition counts
      """WITH nn AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |toks AS (
        |  SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM nn),
        |base AS (
        |  SELECT doc_id, text, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id, text, nt,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mtl,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS t2f,
        |    (nl - ndl)::DOUBLE / nl AS dlf,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s))) AS sh
        |  FROM base),
        |k AS (
        |  SELECT doc_id, text, nt,
        |    CASE WHEN nt BETWEEN 50 AND 100000 AND mtl BETWEEN 4.0 AND 10.0
        |      AND t2f <= 0.08 AND dlf <= 0.2 AND sh >= 2 THEN 1 ELSE 0 END AS keep
        |  FROM sig),
        |u AS (SELECT count(*) AS n_unique FROM
        |  (SELECT min(doc_id) FROM k WHERE keep = 1 GROUP BY text)),
        |c AS (SELECT count(*) AS n_nonnull,
        |    sum(CASE WHEN nt >= 50 THEN 1 ELSE 0 END) AS n_min_tokens,
        |    sum(keep) AS n_quality FROM k),
        |a AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT CAST(a.n_docs AS BIGINT) AS n_docs,
        |  CAST(c.n_nonnull AS BIGINT) AS n_nonnull,
        |  CAST(c.n_min_tokens AS BIGINT) AS n_min_tokens,
        |  CAST(c.n_quality AS BIGINT) AS n_quality,
        |  CAST(u.n_unique AS BIGINT) AS n_unique
        |FROM a, c, u""".stripMargin),

    // BPE merge-pair statistics: top adjacent character pairs weighted
    // by word frequency — the counting step of tokenizer training. The
    // corpus collapses to distinct words before the pair explode, so
    // stage-2 work is vocabulary-bounded. Deterministic cut at k
    // (count desc, pair asc); integer counts, exact oracle.
    CatalogEntry("x_bpe_pairs", (s, d) =>
      TextAnalysis.bpePairCounts(t(s, d, "documents"), "text", k = 40),
      // distinct words + frequencies, then char-pair explode over the
      // vocabulary weighted by freq; deterministic (count, pair) cut
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                  t -> t <> '')) AS w
        |    FROM documents) GROUP BY w),
        |pairs AS (
        |  SELECT p AS pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        |    SELECT freq, unnest(CASE WHEN length(w) >= 2
        |      THEN list_transform(generate_series(1, length(w)-1),
        |           i -> substr(lower(w), i, 2))
        |      ELSE []::VARCHAR[] END) AS p
        |    FROM words) GROUP BY p)
        |SELECT pair, pair_count FROM pairs
        |ORDER BY pair_count DESC, pair ASC LIMIT 40""".stripMargin),

    // Okapi BM25 retrieval: top-20 docs for a fixed 3-term query. The
    // rational-idf variant keeps the score hash-exact cross-engine
    // (the classic log-idf variant is spec-pinned); the per-doc score
    // rides a token-sorted fold, never an order-nondeterministic
    // float sum. Query-term filter lands BEFORE the tf shuffle.
    CatalogEntry("x_bm25_topk", (s, d) =>
      TextAnalysis.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "join", "window"), k = 20, logIdf = false),
      // BM25 with rational idf; the per-doc sum replays the engine's
      // token-sorted left fold (list ORDER BY token + list_reduce with a
      // prepended 0.0 accumulator — this DuckDB's list_reduce takes no
      // initial value). All DOUBLE arithmetic mirrors the Spark
      // parenthesization so every intermediate is bit-identical.
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |lens AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents) AS n_docs,
        |         (SELECT sum(dl) FROM lens) AS total_tokens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE token IN ('spark', 'join', 'window') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    ((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5) /
        |     (CAST(dfreq.df AS DOUBLE) + 0.5)) *
        |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |      (0.25 + 0.75 * (CAST(lens.dl AS DOUBLE) /
        |       (CAST(stats.total_tokens AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))))
        |    AS term_score
        |  FROM tf JOIN lens USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats),
        |agg AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS hits,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(term_score ORDER BY token)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, hits, score FROM agg
        |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin),

    // Corpus 3-gram novelty: fraction of each doc's distinct 3-grams
    // seen in no other doc — the linear-cost boilerplate signal (the
    // quadratic complement is the pair-graph family). One int/int
    // division, hash-exact.
    CatalogEntry("x_ngram_novelty", (s, d) =>
      TextAnalysis.ngramNovelty(t(s, d, "documents"), "doc_id", "text", n = 3),
      // same distinct-shingle construction as the dedup family; novelty
      // is df==1 gram share, one int/int DOUBLE division
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ts)-2),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS gram
        |  FROM toks WHERE len(ts) >= 3),
        |dfreq AS (SELECT gram, count(*) AS df FROM sh GROUP BY gram),
        |st AS (
        |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM sh JOIN dfreq USING (gram) GROUP BY sh.doc_id)
        |SELECT d.doc_id,
        |  coalesce(st.n_grams, 0) AS n_grams,
        |  coalesce(st.n_novel, 0) AS n_novel,
        |  coalesce(CAST(st.n_novel AS DOUBLE) / CAST(st.n_grams AS DOUBLE), 0.0) AS novelty
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin),

    // Hybrid retrieval (the RAG shape): BM25 lexical top-50 ->
    // embedding cosine rerank -> top-10. The candidate set broadcasts
    // onto the embedding store (embeddings never shuffle); ranks are
    // emitted instead of float cosines (same reason as x_cosine_topk:
    // the ORDER is engine-stable, the accumulated float is not).
    CatalogEntry("x_hybrid_search", (s, d) => hybridTop10(s, d),
      // BM25 candidate CTE mirrors x_bm25_topk (doc 0 excluded — it is
      // the query vector's own document); rerank replays the cosine rank
      // emission of x_cosine_topk
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id <> 0),
        |lens AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
        |  FROM documents WHERE doc_id <> 0),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents WHERE doc_id <> 0) AS n_docs,
        |         (SELECT sum(dl) FROM lens) AS total_tokens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE token IN ('spark', 'join', 'window') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    ((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5) /
        |     (CAST(dfreq.df AS DOUBLE) + 0.5)) *
        |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |      (0.25 + 0.75 * (CAST(lens.dl AS DOUBLE) /
        |       (CAST(stats.total_tokens AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))))
        |    AS term_score
        |  FROM tf JOIN lens USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats),
        |lexical AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(term_score ORDER BY token)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id
        |  ORDER BY score DESC, doc_id ASC LIMIT 50),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |rer AS (
        |  SELECT lexical.doc_id, list_cosine_similarity(e.embedding, q.qv) AS c
        |  FROM lexical JOIN embeddings e ON e.vec_id = lexical.doc_id CROSS JOIN q)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY c DESC, doc_id ASC) AS INTEGER) AS rank
        |FROM rer WHERE NOT isnan(c) ORDER BY c DESC, doc_id ASC LIMIT 10""".stripMargin),

    // What reranking CHANGES: overlap + total rank displacement
    // between the BM25 top-10 and the hybrid (cosine-reranked)
    // top-10 for the same query — the audit read before paying for
    // the rerank stage in production. Both sides' ranks are
    // sorted-array assignments over ≤10-row frames.
    CatalogEntry("x_rerank_shift", (s, d) => {
      val bmRanked = TextAnalysis.bm25TopK(
          t(s, d, "documents").filter(col("doc_id") =!= 0), "doc_id", "text",
          queryTerms = Seq("spark", "join", "window"), k = 10, logIdf = false)
        .agg(sort_array(collect_list(
          struct((-col("score")).as("ns"), col("doc_id").as("doc_id")))).as("xs"))
        .select(posexplode(col("xs")))
        .select(col("col.doc_id").as("doc_id"), (col("pos") + 1L).as("r_bm"))
      val hy = hybridTop10(s, d)
        .select(col("doc_id"), col("rank").cast(LongType).as("r_hy"))
      bmRanked.join(hy, "doc_id")
        .agg(count(lit(1)).as("n_overlap"),
          coalesce(sum(abs(col("r_bm") - col("r_hy"))), lit(0L))
            .as("sum_rank_shift"))
    },
      // same scored CTE as x_hybrid_search; bm10 ranks the lexical agg
      // directly, hy10 ranks the reranked lex-50 — both by the shared
      // deterministic (score desc, id) order
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id <> 0),
        |lens AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
        |  FROM documents WHERE doc_id <> 0),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents WHERE doc_id <> 0) AS n_docs,
        |         (SELECT sum(dl) FROM lens) AS total_tokens),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE token IN ('spark', 'join', 'window') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    ((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5) /
        |     (CAST(dfreq.df AS DOUBLE) + 0.5)) *
        |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |      (0.25 + 0.75 * (CAST(lens.dl AS DOUBLE) /
        |       (CAST(stats.total_tokens AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))))
        |    AS term_score
        |  FROM tf JOIN lens USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats),
        |lexall AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(term_score ORDER BY token)), (a, x) -> a + x) AS score
        |  FROM scored GROUP BY doc_id),
        |lex50 AS (SELECT doc_id FROM lexall
        |          ORDER BY score DESC, doc_id ASC LIMIT 50),
        |bm10 AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_bm
        |  FROM lexall ORDER BY score DESC, doc_id ASC LIMIT 10),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |rer AS (
        |  SELECT lex50.doc_id, list_cosine_similarity(e.embedding, q.qv) AS c
        |  FROM lex50 JOIN embeddings e ON e.vec_id = lex50.doc_id CROSS JOIN q),
        |hy10 AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY c DESC, doc_id ASC) AS r_hy
        |  FROM rer WHERE NOT isnan(c) ORDER BY c DESC, doc_id ASC LIMIT 10)
        |SELECT CAST(count(*) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(sum(abs(r_bm - r_hy)), 0) AS BIGINT) AS sum_rank_shift
        |FROM bm10 JOIN hy10 USING (doc_id)""".stripMargin),

    // Token-association mining: top-40 co-occurring token pairs by
    // document-membership lift (rational PMI — ln is monotone, so the
    // ranking equals log-PMI's while staying hash-exact); min 10
    // co-docs cuts the rare-pair pathology.
    CatalogEntry("x_token_lift", (s, d) =>
      TextAnalysis.cooccurrenceLift(t(s, d, "documents"), "doc_id", "text",
        k = 40, minCount = 10),
      // document-membership lift: integer products under 2^53 and one
      // IEEE division, parenthesized as in the engine
      """WITH raw AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |dt AS (SELECT DISTINCT doc_id, token FROM raw),
        |tc AS (SELECT token, count(*) AS n_tok FROM dt GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |p AS (
        |  SELECT l.token AS token_a, r.token AS token_b, count(*) AS n_ab
        |  FROM dt l JOIN dt r ON l.doc_id = r.doc_id AND l.token < r.token
        |  GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT token_a, token_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(ta.n_tok AS BIGINT) AS n_a, CAST(tb.n_tok AS BIGINT) AS n_b,
        |  (CAST(n_ab AS DOUBLE) * CAST(n.n_docs AS DOUBLE)) /
        |  (CAST(ta.n_tok AS DOUBLE) * CAST(tb.n_tok AS DOUBLE)) AS lift
        |FROM p JOIN tc ta ON p.token_a = ta.token
        |       JOIN tc tb ON p.token_b = tb.token CROSS JOIN n
        |ORDER BY lift DESC, token_a ASC, token_b ASC LIMIT 40""".stripMargin),

    // Model-based quality classification: linear logit over engineered
    // features, the fastText-style filter stage of corpus curation.
    // Punctuation injected into every 13th doc (the synthetic corpus
    // has none) so every model term is exercised; the logit is a
    // left-associated IEEE sum over int-derived features — hash-exact.
    CatalogEntry("x_quality_classifier", (s, d) => {
      val docs = t(s, d, "documents").withColumn("text2",
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" !!! ??? ;;;"))).otherwise(col("text")))
      graft.operators.QualityClassifier.score(docs, "text2")
        .select(col("doc_id"), col("logit"),
          col("keep").cast(IntegerType).as("keep_flag"))
    },
      // feature formulations copied from the x_corpus_prep oracle (proven
      // IEEE-identical); logit term order mirrors LinearModel.defaultModel
      // left-to-right. mean_token_len's numerator: sum of token lengths ==
      // count of non-whitespace characters.
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' !!! ??? ;;;' ELSE text END AS text2
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text2) = '' THEN 0.0
        |         ELSE CAST(len(string_split_regex(trim(text2), '\s+')) AS DOUBLE) END AS n_tok,
        |    CASE WHEN length(text2) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text2, '[!-/:-@\[-`{-~]')) AS DOUBLE) / length(text2) END AS punct_ratio,
        |    CASE WHEN trim(text2) = '' THEN 0.0
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text2),'\s+'), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text2), '\s+')) END AS stop_ratio,
        |    CASE WHEN trim(text2) = '' THEN 0.0
        |         ELSE CAST(length(regexp_replace(text2, '\s', '', 'g')) AS DOUBLE)
        |              / len(string_split_regex(trim(text2), '\s+')) END AS mtl
        |  FROM aug),
        |scored AS (
        |  SELECT doc_id,
        |    -2.0 + 0.02 * n_tok + -10.0 * punct_ratio + 5.0 * stop_ratio + 0.1 * mtl AS logit
        |  FROM f)
        |SELECT doc_id, logit,
        |  CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END AS keep_flag
        |FROM scored""".stripMargin),

    // Length-bias audit of the quality filter: Gopher keep/fail
    // counts per document-length decile (exact equal-frequency cut on
    // n_chars) — a filter that mostly kills short or long docs is
    // reshaping the length distribution, which shows up directly in
    // downstream context-length utilization. Joins the two existing
    // kernels; everything after them is a 10-row agg.
    CatalogEntry("x_length_vs_quality", (s, d) => {
      val nn = t(s, d, "documents").filter(col("text").isNotNull)
      val g = gopherSignals(s, d)
        .select(col("doc_id"), col("keep"))
      graft.operators.Quantiles.withQuantileBuckets(
          nn, "n_chars", nBuckets = 10, outCol = "len_decile")
        .select(col("doc_id"), col("len_decile"))
        .join(g, "doc_id")
        .groupBy(col("len_decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast(LongType)).as("n_keep"))
    },
      // deciles via the x_value_deciles boundary replay on n_chars,
      // keep via the same Gopher sig/rules construction
      """WITH nn AS (SELECT doc_id, n_chars, text FROM documents
        |  WHERE text IS NOT NULL),
        |v AS (SELECT n_chars FROM nn WHERE n_chars IS NOT NULL),
        |nv AS (SELECT count(*) AS n FROM v),
        |sv AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn
        |       FROM v),
        |b AS (
        |  SELECT sv.n_chars AS bv
        |  FROM generate_series(1, 9) g(k)
        |  CROSS JOIN nv
        |  JOIN sv ON sv.rn = greatest(1,
        |    CAST(ceil((CAST(g.k AS DOUBLE) / 10) * nv.n) AS BIGINT))),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM nn),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id, nt,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mtl,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS t2f,
        |    (nl - ndl)::DOUBLE / nl AS dlf,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s))) AS sh
        |  FROM base),
        |k AS (
        |  SELECT doc_id,
        |    CASE WHEN nt BETWEEN 50 AND 100000 AND mtl BETWEEN 4.0 AND 10.0
        |      AND t2f <= 0.08 AND dlf <= 0.2 AND sh >= 2 THEN 1 ELSE 0 END AS keep
        |  FROM sig),
        |dec AS (
        |  SELECT nn.doc_id,
        |    CASE WHEN nn.n_chars IS NULL THEN NULL
        |         ELSE 1 + (SELECT count(*) FROM b WHERE nn.n_chars > b.bv)
        |    END AS len_decile
        |  FROM nn)
        |SELECT CAST(dec.len_decile AS BIGINT) AS len_decile,
        |  count(*) AS n_docs, CAST(sum(k.keep) AS BIGINT) AS n_keep
        |FROM dec JOIN k ON dec.doc_id = k.doc_id
        |GROUP BY 1""".stripMargin),

    // Small-cell suppression audit (k-anonymity, k=5): how many
    // (lang, source) cells are too small to release — the privacy
    // check run before publishing per-cell statistics. Two cheap
    // aggregations; integers only.
    CatalogEntry("x_small_cells", (s, d) => {
      t(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_cells"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small_cells"),
          coalesce(sum(when(col("n") < 5, col("n"))), lit(0L))
            .as("n_docs_in_small"))
    },
      """WITH g AS (
        |  SELECT lang, source, count(*) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT count(*) AS n_cells,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_cells,
        |  CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
        |    AS n_docs_in_small
        |FROM g""".stripMargin),

    // Hapax legomena per language: distinct tokens vs once-occurring
    // tokens — the lexical-richness audit (a shrinking hapax share
    // under corpus growth is the classic mark of boilerplate
    // flooding).
    CatalogEntry("x_hapax", (s, d) =>
      t(s, d, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("__c"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_distinct_tokens"),
          sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax")),
      """WITH tc AS (
        |  SELECT lang, t, count(*) AS c
        |  FROM (SELECT lang, unnest(list_filter(
        |          string_split_regex(trim(text), '\s+'), x -> x <> '')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_distinct_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |FROM tc GROUP BY 1""".stripMargin),

    // Filter-agreement audit: Gopher rule keep × classifier keep as a
    // 2×2 matrix over the PLAIN corpus — the comparison a curation
    // owner reads before swapping one cheap filter for the other (or
    // chaining them). Both signals are codegen'd projections; one
    // count shuffle.
    // Reads the shared gopherSignals artifact (filtered to non-null
    // text — no such docs exist in the corpus at any SF, and excluding
    // a text-less doc from a text-quality matrix is the right frame).
    CatalogEntry("x_quality_agreement", (s, d) => {
      val docs = t(s, d, "documents")
      val g = gopherSignals(s, d)
        .select(col("doc_id"), col("keep").as("keep_gopher"))
      val c = QualityClassifier.score(docs, "text")
        .select(col("doc_id"), col("keep").cast(IntegerType).as("keep_clf"))
      g.join(c, "doc_id")
        .groupBy(col("keep_gopher"), col("keep_clf"))
        .agg(count(lit(1)).as("n_docs"))
    },
      // Gopher keep (x_gopher_rules formulas on PLAIN text) × classifier
      // keep (x_quality_classifier formulas on PLAIN text), composed
      // text IS NOT NULL mirrors the shared gopher frame's input filter
      // (the Spark side inner-joins against it): a future generator
      // emitting a null-text doc diverges loudly here, not silently
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS t,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents WHERE text IS NOT NULL),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt, len(lines) AS nl,
        |         len(list_distinct(lines)) AS ndl,
        |         list_transform(t, x -> lower(x)) AS tl,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM toks),
        |sig AS (
        |  SELECT doc_id,
        |    nt::INT AS n_tokens,
        |    CASE WHEN nt = 0 THEN 0.0
        |         ELSE list_sum(list_transform(t, x -> len(x)))::DOUBLE / nt END AS mean_tok_len,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      (SELECT max(c)::DOUBLE FROM (SELECT count(*) AS c FROM unnest(g2) AS u(x) GROUP BY x)) / len(g2)
        |    END AS top2_frac,
        |    (nl - ndl)::DOUBLE / nl AS dup_line_frac,
        |    len(list_filter(['the','a','an','and','or','of','to','in','is','are','was',
        |                     'for','on','with','as','at','by','it','be','this','that'],
        |        s -> list_contains(tl, s)))::INT AS stop_hits
        |  FROM base),
        |g AS (
        |  SELECT doc_id,
        |    (CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
        |    * (CASE WHEN mean_tok_len BETWEEN 4.0 AND 10.0 THEN 1 ELSE 0 END)
        |    * (CASE WHEN top2_frac <= 0.08 THEN 1 ELSE 0 END)
        |    * (CASE WHEN dup_line_frac <= 0.2 THEN 1 ELSE 0 END)
        |    * (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END) AS keep_gopher
        |  FROM sig),
        |f AS (
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
        |         + 5.0 * stop_ratio + 0.1 * mtl >= 0.0 THEN 1 ELSE 0 END AS keep_clf
        |  FROM f)
        |SELECT g.keep_gopher, c.keep_clf, count(*) AS n_docs
        |FROM g JOIN c ON g.doc_id = c.doc_id
        |GROUP BY 1, 2""".stripMargin),

    // Vocabulary coverage curve: corpus token coverage at vocab sizes
    // 10/50/100/200/500 — the diminishing-returns read before fixing a
    // tokenizer vocab budget. The ranked top-500 frame is 500 rows
    // (TakeOrderedAndProject + the sorted-array rank idiom — no
    // unpartitioned window); every join side against it broadcasts.
    CatalogEntry("x_coverage_curve", (s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      val ranked = counts
        .orderBy(col("freq").desc, col("token").asc).limit(500)
        .agg(sort_array(collect_list(
          struct((-col("freq")).as("nf"), col("token").as("token")))).as("xs"))
        .select(posexplode(col("xs")))
        .select(col("col.token").as("token"), (col("pos") + 1L).as("rank"),
          (-col("col.nf")).as("freq"))
      val tot = counts.agg(sum(col("freq")).as("n_total"))
      import s.implicits._
      ranked
        .crossJoin(broadcast(Seq(10L, 50L, 100L, 200L, 500L).toDF("k")))
        .groupBy(col("k"))
        .agg(sum(when(col("rank") <= col("k"), col("freq")).otherwise(0L))
          .as("n_covered"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_covered"), col("n_total"))
    },
      // rank over ALL tokens; CASE rank<=k restricts to the same top-500
      // the engine ranks explicitly (k never exceeds 500)
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS freq FROM toks GROUP BY token),
        |r AS (SELECT token, freq,
        |        row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
        |      FROM c),
        |t AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM c),
        |k AS (SELECT unnest([10, 50, 100, 200, 500]) AS k)
        |SELECT CAST(k.k AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN r.rank <= k.k THEN r.freq ELSE 0 END) AS BIGINT)
        |    AS n_covered,
        |  t.n_total
        |FROM k CROSS JOIN r CROSS JOIN t
        |GROUP BY k.k, t.n_total""".stripMargin),

    // Vocabulary overlap between source pairs: distinct-token set
    // sizes and intersections (lexical Jaccard derivable exactly) —
    // two sources with near-identical vocabularies add volume, not
    // diversity, to a mixture. The self-join runs on the distinct
    // (source, token) frame: per token the expansion is ≤ |sources|²,
    // never corpus².
    CatalogEntry("x_vocab_overlap_sources", (s, d) => {
      // same shape as x_user_overlap_types: per-source vocab sizes as
      // a COUNT window on the distinct frame before the self-join —
      // the two sizes references each re-ran the tokenize+distinct
      // corpus pass (r18 plan audit: 4 scans → 2).
      val st = t(s, d, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .distinct()
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("source"))))
      st.as("a").join(st.as("b"),
          col("a.token") === col("b.token") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_both"),
          min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_both"))
    },
      """WITH st AS (
        |  SELECT DISTINCT source, t AS token
        |  FROM (SELECT source, unnest(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> '')) AS t
        |    FROM documents WHERE text IS NOT NULL)),
        |s AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
        |i AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_both
        |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, CAST(sa.n AS BIGINT) AS n_a,
        |  CAST(sb.n AS BIGINT) AS n_b, CAST(i.n_both AS BIGINT) AS n_both
        |FROM i
        |JOIN s sa ON sa.source = i.source_a
        |JOIN s sb ON sb.source = i.source_b""".stripMargin),

    // PII detection + redaction. The corpus is synthetic and PII-free,
    // so deterministic PII is INJECTED by the query itself (same
    // expression on the oracle side) — the regex scrubbing is verified
    // on real matches, not vacuous zeros.
    CatalogEntry("x_pii_redact", (s, d) => {
      val docs = t(s, d, "documents")
      val augmented = docs.withColumn("text2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast(StringType),
            lit(".7"))).otherwise(lit(""))))
      graft.operators.Pii.piiStats(augmented, "doc_id", "text2")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"),
          col("n_phones"), col("redacted"))
    },
      // regex patterns are the Java/RE2-common subset (see Pii.scala), so
      // counts and replacements agree bit-for-bit
      """WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
        |    AS text2
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text2, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM aug""".stripMargin),

    // PII incidence per source (same deterministic augment as
    // x_pii_redact so the counts are non-vacuous): docs, docs with
    // ANY hit, and total emails / IPs / phones — the governance
    // table that decides which sources need redaction in the path
    // vs a skip. Same regexp_count kernels, one |sources|-row agg.
    CatalogEntry("x_pii_incidence", (s, d) => {
      val docs = t(s, d, "documents")
      val augmented = docs.withColumn("text2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" from 10.0."),
            pmod(col("doc_id"), lit(256)).cast(StringType),
            lit(".7"))).otherwise(lit(""))))
      graft.operators.Pii.piiStats(augmented, "doc_id", "text2")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_emails") + col("n_ipv4") + col("n_phones") > 0, 1L)
            .otherwise(0L)).as("n_docs_with_pii"),
          sum(col("n_emails").cast(LongType)).as("n_emails"),
          sum(col("n_ipv4").cast(LongType)).as("n_ipv4"),
          sum(col("n_phones").cast(LongType)).as("n_phones"))
    },
      """WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
        |    AS text2
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |    len(regexp_extract_all(text2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS ni,
        |    len(regexp_extract_all(text2, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS np
        |  FROM aug)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c.ne + c.ni + c.np > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_with_pii,
        |  CAST(sum(c.ne) AS BIGINT) AS n_emails,
        |  CAST(sum(c.ni) AS BIGINT) AS n_ipv4,
        |  CAST(sum(c.np) AS BIGINT) AS n_phones
        |FROM c JOIN documents d ON c.doc_id = d.doc_id
        |GROUP BY 1""".stripMargin),

    // Real-BPE token counts with the vendored merge table — rows-only
    // (the segmentation is vocabulary-data, not SQL-expressible; the
    // algorithm is pinned by BpeSpec's independent rank-sequential
    // oracle + goldens). Whitespace and proxy counts ride along so the
    // three granularities are comparable in one frame.
    CatalogEntry("x_bpe_tokens", (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast(LongType).as("n_pretokens"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_ws_tokens"))
    },
      // n_bpe_tokens comes from a committed golden parquet generated by an
      // INDEPENDENT Python replay of the merge kernel
      // (tools/gen_bpe_golden.py), keyed by md5(text) so the check is
      // scale-factor-agnostic: counts are a pure function of the text, and
      // an unseen text surfaces as a null-vs-value hash mismatch through
      // the LEFT JOIN. The other two columns reuse the DuckDB expressions
      // already hash-proven by x_text_tokens.
      """SELECT d.doc_id, g.n_bpe_tokens,
        |len(regexp_extract_all(d.text, '\w+|[^\w\s]')) AS n_pretokens,
        |CASE WHEN trim(d.text) = '' THEN 0 ELSE len(string_split_regex(trim(d.text), '\s+')) END AS n_ws_tokens
        |FROM documents d
        |LEFT JOIN read_parquet('/root/repo/tools/golden/bpe_counts.parquet') g
        |  ON md5(d.text) = g.text_md5""".stripMargin),

    // Tokenizer-fertility audit per language: BPE tokens and raw
    // chars per lang — tokens/char is the fertility a tokenizer-bias
    // review reads (a language whose text costs 2× the tokens gets
    // half the effective context window; the ratio decides whether
    // the vocab needs rebalancing before a multilingual run). Exact
    // integer legs; null-text docs count as docs, contribute neither.
    CatalogEntry("x_bpe_fertility", (s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("n_bpe_tokens"),
          sum(col("n_chars")).as("n_chars")),
      """SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(g.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars
        |FROM documents d
        |LEFT JOIN read_parquet('/root/repo/tools/golden/bpe_counts.parquet') g
        |  ON md5(d.text) = g.text_md5
        |GROUP BY 1""".stripMargin)
  )
}
