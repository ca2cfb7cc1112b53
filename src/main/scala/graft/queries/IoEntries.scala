package graft.queries

import graft.operators.TextAnalysis
import graft.queries.Queries._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** I/O and layout: format round-trips, bucketing, compaction, range and
  * Z-order layouts, partitioned scans, upserts, snapshot diffs and
  * persisted sketches.
  */
private[queries] object IoEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // JSONL round-trip: write documents as JSON-lines, read back with an
    // explicit schema, aggregate — must equal the direct aggregation
    // (which is what the oracle computes on the parquet).
    // CDC upsert merge: fold a derived update batch (price corrections
    // on every 10th order, tombstones on multiples of 970, inserts at
    // negated keys) into the orders snapshot, last-writer-wins. The
    // max_by merge is partitioning-invariant and the derived batch is
    // deterministic, so the merged snapshot hash-matches a window-based
    // SQL re-derivation.
    CatalogEntry("x_upsert_merge", (s, d) => {
      val snap = t(s, d, "orders").select(
        col("o_orderkey"), dec(col("o_totalprice")).as("price"),
        lit(1L).as("version"), lit(false).as("is_delete"))
      val upd = t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          (dec(col("o_totalprice")) + lit(1000)).cast(DecimalType(18, 2)).as("price"),
          lit(2L).as("version"), (col("o_orderkey") % 970 === 0).as("is_delete"))
      // key 0 negates to itself, which would land THREE rows on one key
      // with a (version, src) TIE between its update and insert — Spark
      // breaks ties by payload hash but the oracle's row_number cannot,
      // so keep the insert key space strictly disjoint
      val ins = t(s, d, "orders")
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") =!= 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          dec(col("o_totalprice")).as("price"),
          lit(2L).as("version"), lit(false).as("is_delete"))
      graft.operators.Upsert.mergeSnapshot(snap, upd.unionByName(ins),
          Seq("o_orderkey"), "version", deleteCol = Some("is_delete"))
        .select(col("o_orderkey"), col("price").cast(DoubleType).as("price"),
          col("version"))
    },
      // the oracle aggregates the parquet directly — equality proves the
      // JSONL write+read round-trip is lossless
      // Survivor per key: highest (version, src); the catalog batch has
      // at most one update per (key, version, src), so the window
      // re-derivation needs no content tie-break.
      """WITH snap AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CAST(1 AS BIGINT) AS version, FALSE AS is_delete, 0 AS src
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DECIMAL(18,2)) AS price,
        |    CAST(2 AS BIGINT) AS version, (o_orderkey % 970 = 0) AS is_delete, 1 AS src
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (
        |  SELECT -o_orderkey AS o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CAST(2 AS BIGINT) AS version, FALSE AS is_delete, 1 AS src
        |  FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey <> 0),
        |merged AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY version DESC, src DESC) AS rn
        |  FROM (SELECT * FROM snap UNION ALL SELECT * FROM upd
        |        UNION ALL SELECT * FROM ins))
        |SELECT o_orderkey, CAST(price AS DOUBLE) AS price, version
        |FROM merged WHERE rn = 1 AND NOT is_delete""".stripMargin),

    // Bloom-pruned selective join: build a bloom over the (selective)
    // urgent-high-value order keys, filter lineitem AT THE SCAN before
    // the join's exchange, then join exactly — false positives die in
    // the join, so the result is bit-identical to the plain join and
    // the oracle is the plain join SQL. At 100 TB this is the
    // semi-join reduction that shrinks the fact shuffle to ~the dim's
    // selectivity; BloomPruneSpec asserts the scan-side row reduction.
    CatalogEntry("x_bloom_prune", (s, d) => {
      val dim = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val fact = t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
      graft.operators.BloomPrune.semiJoinReduced(
          fact, "l_orderkey", dim, "o_orderkey", expectedItems = 20000)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          dec(sum(dec(col("l_extendedprice")))).cast(DoubleType).as("revenue"))
    },
      """SELECT o_orderstatus, count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY o_orderstatus""".stripMargin),

    // Keyed snapshot diff: classify every order key as added / removed
    // / changed between the base snapshot and a mutated copy (drops,
    // price bumps, inserts under negated keys). The join moves only
    // (key, xxhash64(payload)) — ~16 bytes/row however wide the table —
    // which is what lets two 100 TB snapshots reconcile cheaply; the
    // oracle re-derives the classification with column-wise
    // IS DISTINCT FROM over a FULL OUTER JOIN.
    CatalogEntry("x_snapshot_diff", (s, d) => {
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val mutated = base.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice")))
        .unionByName(base.filter(col("o_orderkey") % 13 === 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")))
      graft.operators.SnapshotDiff.diff(base, mutated, Seq("o_orderkey"))
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |mutated AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM base WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey, o_totalprice, o_orderstatus
        |  FROM base WHERE o_orderkey % 13 = 0),
        |j AS (
        |  SELECT coalesce(b.o_orderkey, m.o_orderkey) AS o_orderkey,
        |    CASE WHEN m.o_orderkey IS NULL THEN 'removed'
        |         WHEN b.o_orderkey IS NULL THEN 'added'
        |         WHEN b.o_totalprice IS DISTINCT FROM m.o_totalprice
        |           OR b.o_orderstatus IS DISTINCT FROM m.o_orderstatus
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS change_type
        |  FROM base b FULL OUTER JOIN mutated m ON b.o_orderkey = m.o_orderkey)
        |SELECT o_orderkey, change_type FROM j
        |WHERE change_type <> 'unchanged'""".stripMargin),

    // Bucketed co-located join: write orders and lineitem bucketed by
    // their join key into the same bucket count, then join WITHOUT a
    // shuffle on either side (BucketingSpec asserts zero Exchanges feed
    // the join). The one-time write cost buys every subsequent
    // fact-to-fact join at 100 TB; results are layout-invariant, so the
    // oracle is the plain join SQL.
    CatalogEntry("x_bucketed_join", (s, d) => {
      val base = Harness.scratch("bucketed", d).toString
      val suffix = Harness.slug(d)
      // the two bucketed writes are independent (disjoint paths and
      // catalog names) — overlap them so the lineitem write's bucket
      // sort back-fills the orders write's commit tail (guide §2.6,
      // the index-dataset-write shape; the catalog is thread-safe for
      // distinct table names)
      graft.operators.Actions.runConcurrently(
        () => graft.sources.Bucketing.writeBucketed(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderstatus")),
          s"graft_orders_b_$suffix", s"$base/orders", numBuckets = 8,
          bucketCols = Seq("o_orderkey"), sortCols = Seq("o_orderkey")),
        () => graft.sources.Bucketing.writeBucketed(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
          s"graft_lineitem_b_$suffix", s"$base/lineitem", numBuckets = 8,
          bucketCols = Seq("l_orderkey"), sortCols = Seq("l_orderkey")))
      graft.sources.Bucketing.bucketedEquiJoin(s,
          s"graft_orders_b_$suffix", s"graft_lineitem_b_$suffix",
          Seq("o_orderkey" -> "l_orderkey"))
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(
          dec(sum(dec(col("l_extendedprice")))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT o_orderpriority,
        |CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
        |count(*) AS n_lines
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // Small-file compaction round-trip: fragment documents into 16
    // files, compact back to 1 (byte-derived count), and aggregate the
    // compacted copy. Compaction is content-preserving, so the oracle
    // is the same aggregate over the source table.
    CatalogEntry("x_compact_roundtrip", (s, d) => {
      val base = Harness.scratch("compact", d).toString
      t(s, d, "documents").repartition(16)
        .write.mode("overwrite").parquet(s"$base/small")
      val stats = graft.sources.Compaction.compact(
        s, s"$base/small", s"$base/compacted", targetFileBytes = 1L << 30)
      require(stats.filesAfter < stats.filesBefore,
        s"compaction did not reduce files: $stats")
      s.read.parquet(s"$base/compacted")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    },
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // CSV round-trip (write + schema'd read-back): completes the
    // format matrix — CSV is the reference's INPUT format; this pins
    // the sink side too. Doubles survive because Spark writes the
    // shortest round-trippable repr; the timestamp goes through an
    // explicit yyyy-MM-dd HH:mm:ss string (CSV has no timestamp type).
    CatalogEntry("x_csv_roundtrip", (s, d) => {
      val base = Harness.scratch("csv", d).toString
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_date"),
          col("o_orderpriority"))
        .write.mode("overwrite").option("header", "true").csv(base)
      s.read.option("header", "true")
        .schema(StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("o_date", StringType),
          StructField("o_orderpriority", StringType))))
        .csv(base)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType).as("total_price"),
          max(col("o_date")).as("max_date"))
    },
      // the round-trip is lossless, so the oracle aggregates the source
      // directly (same decimal routing as q_rollup)
      """SELECT o_orderstatus, count(*) AS n_orders,
        |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |max(strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')) AS max_date
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // Schema evolution: two parquet batches with DIFFERENT column
    // sets (the lake reality — a pipeline added `lang` mid-stream)
    // read back as ONE frame via mergeSchema; absent columns surface
    // as nulls, counted per column. The merge happens at footer level
    // (schema union across files), not a rewrite — at 100 TB this is
    // the only affordable way to widen a table in place.
    CatalogEntry("x_schema_evolution", (s, d) => {
      val base = Harness.scratch("schema_evo", d).toString
      val docs = t(s, d, "documents")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$base/batch1")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$base/batch2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/batch1", s"$base/batch2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("lang")).as("n_with_lang"),
          sum(col("n_chars")).as("sum_chars"))
    },
      // the merged-read semantics replayed relationally: absent columns
      // are nulls per batch, counted per column
      """WITH m AS (
        |  SELECT doc_id, n_chars, NULL AS lang FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(lang) AS BIGINT) AS n_with_lang,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM m""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // Range-clustered layout round-trip: rewrite documents sorted by
    // n_chars (8 range files, tight row-group min/max), then answer a
    // selective range predicate from the clustered copy. Layout is
    // content-neutral so the oracle is the plain WHERE query; the
    // row-group SKIPPING is plan-asserted in RangeLayoutSpec.
    CatalogEntry("x_range_layout", (s, d) => {
      val base = Harness.scratch("rangelayout", d).toString
      graft.sources.RangeLayout.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        base, Seq("n_chars"), numFiles = 8)
      graft.sources.RangeLayout.read(s, base)
        .filter(col("n_chars").between(200, 400))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars BETWEEN 200 AND 400""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // Z-order layout round-trip: rewrite documents Morton-clustered on
    // (n_chars, doc_id), then answer a two-column predicate from the
    // clustered copy. Content-neutral (oracle = plain WHERE); the
    // per-dimension row-group skipping — including under skew — is
    // plan-asserted in ZOrderSpec.
    CatalogEntry("x_zorder_layout", (s, d) => {
      val base = Harness.scratch("zorder", d).toString
      graft.sources.ZOrder.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        base, Seq("n_chars", "doc_id"), numFiles = 8)
      s.read.parquet(base)
        .filter(col("n_chars").between(200, 400) && col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars BETWEEN 200 AND 400 AND doc_id % 3 = 0""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // Incremental cardinality via persisted HLL sketches: sketch two
    // ingest increments separately, answer per-lang distinct-token
    // counts by unioning SKETCH BYTES (no rescan of either increment).
    // HLL union is a register-wise max — order-invariant — so the
    // estimate is deterministic; the entry pins it inside a 5% envelope
    // against the exact count, and the oracle re-derives the exact
    // count + the envelope verdict (TRUE) in SQL.
    CatalogEntry("x_hll_increments", (s, d) => {
      val base = Harness.scratch("hll", d).toString
      val toks = t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      graft.operators.Sketches.writeHllSketches(
        toks.filter(col("doc_id") % 2 === 0), Seq("lang"), "token",
        s"$base/inc0", mode = "overwrite")
      graft.operators.Sketches.writeHllSketches(
        toks.filter(col("doc_id") % 2 === 1), Seq("lang"), "token",
        s"$base/inc1", mode = "overwrite")
      val est = graft.operators.Sketches.unionHllEstimates(
        s, Seq(s"$base/inc0", s"$base/inc1"))
      val exact = toks.groupBy(col("lang"))
        .agg(countDistinct(col("token")).as("n_distinct_exact"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), col("n_distinct_exact"),
          (abs(col("n_distinct_est").cast(DoubleType) -
              col("n_distinct_exact").cast(DoubleType)) /
            col("n_distinct_exact").cast(DoubleType) <= 0.05)
            .as("within_tolerance"))
    },
      // the estimate itself is engine-specific; the oracle checks the
      // exact count and that the (deterministic) estimate verdict is TRUE
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
        |  FROM documents)
        |SELECT lang, count(DISTINCT token) AS n_distinct_exact,
        |  TRUE AS within_tolerance
        |FROM toks GROUP BY lang""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // Hive-style partitioned layout: write documents partitioned by
    // lang, answer a partition-column predicate from the copy. The
    // predicate prunes DIRECTORIES at planning time (PartitionFilters —
    // asserted with file-count metrics in PartitionedLayoutSpec, which
    // also pins dynamic partition overwrite); layout is content-neutral
    // so the oracle is the plain WHERE.
    CatalogEntry("x_partitioned_scan", (s, d) => {
      val base = Harness.scratch("partitioned", d).toString
      graft.sources.PartitionedLayout.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        base, Seq("lang"))
      graft.sources.PartitionedLayout.read(s, base)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en'""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    // ORC source/sink round-trip (same contract as the JSONL one):
    // layout-invariant aggregate over the re-read copy, so the oracle
    // is the plain aggregate on the source table. Completes the format
    // matrix: CSV in, parquet/JSONL/ORC both ways.
    CatalogEntry("x_orc_roundtrip", (s, d) => {
      val out = Harness.scratch("orc_roundtrip", d).toString
      t(s, d, "documents").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    },
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true),

    CatalogEntry("x_jsonl_roundtrip", (s, d) => {
      // path scoped by dataset dir: one path per SF in a session
      val out = Harness.scratch("jsonl_roundtrip", d).toString
      graft.sources.Jsonl.write(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
        out, mode = "overwrite")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      graft.sources.Jsonl.read(s, out, schema)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast(LongType)).as("n_tokens"),
          sum(length(col("text")).cast(LongType)).as("n_chars"))
    },
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang""".stripMargin,
      // io: its timing includes a real disk write and read-back
      io = true)
  )
}
