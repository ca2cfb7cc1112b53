package graft.queries

import graft.operators.Dedup
import graft.queries.Harness.replayToMemory
import graft.queries.Queries._
import graft.rules.RuleCompiler
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming: Structured Streaming replays over staged file
  * sources, stateful operators and the index-ingest folds.
  */
private[queries] object StreamingEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // Structured Streaming surface, driver-visible: the windowed
    // error-rate summary over a file-source micro-batch stream of
    // lineitem, annotated by the SAME compiled rule set the batch
    // entries use (streaming/batch parity is by construction — the
    // row rules are plain expressions). Runs to completion with
    // Trigger.AvailableNow into a memory sink in COMPLETE mode: append
    // would hold back the final watermark's windows in a bounded run;
    // complete keeps all window state, which is right for verification
    // (production tails use append+watermark via the foreachBatch
    // writer). Aggregation is exact, so the result is micro-batch-
    // partitioning-independent and fully oracle-checkable.
    CatalogEntry("x_stream_error_rate", (s, d) => {
      val schema = t(s, d, "lineitem").schema
      val stream = s.readStream.schema(schema).parquet(lineitemStreamDir(d))
      val annotated = stream.withColumn("errors", RuleCompiler.compileRow(lineitemRules))
      val rates = graft.streaming.StreamingValidation.errorRateByWindow(
        annotated, timeCol = "l_shipdate", windowLen = "1 hour",
        watermark = "2 hours", keyCol = "l_returnflag")
      // memory-sink names must be unique per ACTIVE query; reruns in the
      // same session (bench reps) each get a fresh table.
      // HARNESS-ONLY SHAPE (applies to every x_stream_* entry): a
      // memory sink materializes results driver-resident — bounded here
      // by true output size (<= ~33k rows), but a production tail uses
      // the foreachBatch writer / a durable sink, never format("memory")
      val name = replayToMemory(s, "x_stream_error_rate", rates, "complete")
      s.table(name).select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("l_returnflag").as("return_flag"),
        col("total_rows"), col("invalid_rows"), col("error_count"))
    },
      // Streaming windowed error rate: the aggregation is exact (complete
      // mode, AvailableNow), so the batch-SQL equivalent is a plain
      // hour-truncated group-by with the same rule flags p8 already
      // hash-verifies. Spark's window() aligns to the epoch, which for
      // "1 hour" is exactly date_trunc('hour', ...).
      s"""WITH flags AS (
        |  SELECT CAST(l_shipdate AS TIMESTAMP) AS evt, l_returnflag,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem WHERE CAST(l_shipdate AS TIMESTAMP) IS NOT NULL)
        |SELECT strftime(date_trunc('hour', evt), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  l_returnflag AS return_flag, count(*) AS total_rows,
        |  CAST(sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
        |  CAST(sum(n_err) AS BIGINT) AS error_count
        |FROM flags GROUP BY 1, 2""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // Streaming exact dedup (dropDuplicatesWithinWatermark) replayed
    // over the bounded lineitem file. The watermark delay (10 years)
    // exceeds the data's whole event-time span, so the dedup GUARANTEE
    // covers every duplicate pair and the output is exactly the
    // distinct key set regardless of micro-batch partitioning — which
    // also makes it oracle-checkable (the surviving ROW per key is
    // arrival-order-dependent, so the entry projects the keys only).
    CatalogEntry("x_stream_dedup", (s, d) => {
      val schema = t(s, d, "lineitem").schema
      val stream = s.readStream.schema(schema).parquet(lineitemStreamDir(d))
      val deduped = graft.streaming.StreamingValidation.dedupStream(
        stream, Seq("l_orderkey", "l_returnflag"), "l_shipdate",
        watermark = "87600 hours")
      // dedup is the one replay whose state is data-proportional
      // (one row per distinct key, ~33k at sf0.1) — give it more state
      // partitions than the small-state replays (measured: 8 beats
      // both 4 and 32 here)
      val name = replayToMemory(s, "x_stream_dedup", deduped, "append",
        statePartitions = 8)
      s.table(name).select(col("l_orderkey"), col("l_returnflag"))
    },
      // the streaming dedup's watermark delay exceeds the data's event-
      // time span, so its guaranteed output is exactly the distinct key
      // set (the entry projects keys only — the surviving full ROW is
      // arrival-order-dependent by design)
      """SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem
        |WHERE CAST(l_shipdate AS TIMESTAMP) IS NOT NULL""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // Streaming sessionization via session_window over the events
    // stream: per-user sessions with a 30-minute gap. The watermark
    // delay (10 years) covers the whole event-time span, so every
    // session closes with its full event set and the output is the
    // exact session partition regardless of micro-batching — which
    // makes the batch gaps-and-islands SQL a valid oracle. Session
    // bounds are projected as epoch micros (the engines' shared
    // timestamp precision; see the batch x_sessionize precision note).
    // Stream-stream interval inner join (click→purchase attribution
    // within 6 hours, per user) over two file-source streams of the
    // same events table. Both sides are watermarked and the join
    // condition bounds the event times against each other, so state is
    // evictable (the operator's whole point — see intervalJoinStreams
    // scaladoc); the span-covering delay makes the bounded replay emit
    // the exact pair set, so the batch interval-join SQL is the oracle.
    CatalogEntry("x_stream_join", (s, d) => {
      def ev() = withTsUtc(
        s.readStream.schema(eventsSchema(s, d))
          .parquet(tableStreamDir(d, "events")),
        eventsTsIsNative(s, d))
      val clicks = ev().filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_utc").as("click_ts"))
      val purchases = ev().filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_utc").as("purchase_ts"))
      val pairs = graft.streaming.StreamingValidation.intervalJoinStreams(
        clicks, purchases, Seq("user_id"), "click_ts", "purchase_ts",
        maxDelay = "6 hours", watermark = "87600 hours")
      val name = replayToMemory(s, "x_stream_join", pairs, "append")
      s.table(name).select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"))
    },
      // CAST ns->us BEFORE comparing, mirroring the engine's `ts div
      // 1000` truncation, so boundary pairs agree at shared precision
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events)
        |SELECT c.user_id,
        |  c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_us(c.ts) AS click_ts_us,
        |  epoch_us(p.ts) AS purchase_ts_us
        |FROM ev c JOIN ev p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    CatalogEntry("x_stream_sessionize", (s, d) => {
      val stream = withTsUtc(
        s.readStream.schema(eventsSchema(s, d))
          .parquet(tableStreamDir(d, "events")),
        eventsTsIsNative(s, d))
      val sessions = graft.streaming.StreamingValidation.sessionizeStream(
        stream, keyCol = "user_id", timeCol = "ts_utc",
        gap = "30 minutes", watermark = "87600 hours")
      val name = replayToMemory(s, "x_stream_sessionize", sessions, "complete")
      s.table(name).select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"))
    },
      // Gaps-and-islands at microsecond precision: a new session starts
      // when the gap is STRICTLY greater than 30 min (an event landing
      // exactly on the previous session's end still merges — pinned by
      // StreamingSpec); session end = last event + gap.
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE ts IS NOT NULL),
        |marked AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |numbered AS (
        |  SELECT user_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM marked)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |  max(ts_us) + 1800000000 AS session_end_us,
        |  count(*) AS n_events
        |FROM numbered GROUP BY user_id, sess""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // Streaming funnel (flatMapGroupsWithState): greedy-earliest chain
    // state per user, every field monotone, so max-per-user over the
    // Update sink is the verdict frame — oracle-identical to the
    // batch x_funnel on the bounded replay.
    CatalogEntry("x_stream_funnel", (s, d) => {
      val stream = withTsUtc(
        s.readStream.schema(eventsSchema(s, d))
          .parquet(tableStreamDir(d, "events")),
        eventsTsIsNative(s, d))
      val prog = graft.streaming.StreamingValidation.funnelStream(
        s, stream, "user_id", "ts_utc", "event_type",
        Seq("view", "click", "purchase"), 86400000000L)
      val name = replayToMemory(s, "x_stream_funnel", prog.toDF(), "update")
      s.table(name).groupBy(col("user_id"))
        .agg(max(col("t1_us")).as("t1_us"),
          max(col("t2_us")).as("t2_us"),
          max(col("t3_us")).as("t3_us"),
          max(col("steps_reached")).cast(IntegerType).as("steps_reached"),
          max(col("converted")).cast(IntegerType).as("converted"))
    },
      // identical SQL to x_funnel: the bounded replay makes the
      // streaming funnel oracle-equal to the batch one
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  epoch_us(t1) AS t1_us,
        |  coalesce(epoch_us(t2), -1) AS t2_us,
        |  coalesce(epoch_us(t3), -1) AS t3_us,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 WHEN t3 IS NULL THEN 1 ELSE 2 END
        |    AS INTEGER) AS steps_reached,
        |  CAST(t3 IS NOT NULL AND epoch_us(t3) - epoch_us(t1) <= 86400000000
        |    AS INTEGER) AS converted
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // Stateful threshold alerting (flatMapGroupsWithState) over the
    // rule-annotated lineitem stream: one alert per (return_flag,
    // threshold) the moment the key's running invalid count crosses it.
    // The ALERT SET is micro-batch-partitioning-independent — a
    // threshold fires exactly once per key, iff the key's final invalid
    // count reaches it — so projecting (key, threshold) is
    // deterministic and SQL-expressible even though the `invalid`
    // column at fire time (the running count when the batch crossed)
    // is not; the spec pins that column's semantics instead.
    // No watermark/time filter: NoTimeout state keyed by 3 flags.
    CatalogEntry("x_stream_alerts", (s, d) => {
      val alerts = graft.streaming.StreamingValidation.invalidAlerts(
        s, keyedInvalidStream(s, d), thresholds = Seq(10L, 100L, 1000L, 100000L))
      val name = replayToMemory(s, "x_stream_alerts", alerts.toDF(), "update")
      s.table(name).select(col("key"), col("threshold"))
    },
      // Threshold alerting: the fired (key, threshold) SET is exactly
      // "every threshold <= the key's final invalid count" — each fires
      // once, regardless of micro-batch boundaries (the running count is
      // cumulative and thresholds are monotone). Same rule flags the
      // error-rate oracle uses, but NO event-time filter: invalidAlerts
      // has no watermark, so every row counts. Data note: sf lineitem has
      // no null returnflags, so the COALESCE('' key) branch is exercised
      // only by the spec, not the oracle.
      s"""WITH flags AS (
        |  SELECT COALESCE(l_returnflag, '') AS key,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem),
        |per_key AS (
        |  SELECT key, sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS invalid
        |  FROM flags GROUP BY key)
        |SELECT key, CAST(t.threshold AS BIGINT) AS threshold
        |FROM per_key, (VALUES (10),(100),(1000),(100000)) t(threshold)
        |WHERE t.threshold <= invalid""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // Running per-key valid/invalid counters (mapGroupsWithState) over
    // the same keyed stream as x_stream_alerts. The per-batch emissions
    // are micro-batch-dependent, but the counters are MONOTONE, so
    // max() over the update-mode sink is exactly the final state —
    // deterministic and SQL-expressible as plain per-key counts.
    // Closes the last operator without a driver-visible catalog row.
    CatalogEntry("x_stream_counts", (s, d) => {
      val counts = graft.streaming.StreamingValidation.runningCounts(
        s, keyedInvalidStream(s, d))
      val name = replayToMemory(s, "x_stream_counts", counts.toDF(), "update")
      s.table(name).groupBy(col("key"))
        .agg(max(col("total")).as("total_rows"),
          max(col("invalid")).as("invalid_rows"))
    },
      // runningCounts' final state per key == plain per-key counts (the
      // counters are monotone; the entry max-aggregates the update sink)
      s"""WITH flags AS (
        |  SELECT COALESCE(l_returnflag, '') AS key,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem)
        |SELECT key, CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows
        |FROM flags GROUP BY key""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // Salted stateful streaming (THE per-key hot-state pattern at
    // 100 TB): x_stream_counts keys its mapGroupsWithState on
    // l_returnflag — cardinality 3, so however many state-store
    // partitions the query gets, at most 3 tasks ever carry state and
    // one hot flag bottlenecks the stateful stage. This entry applies
    // the batch x_salted_count idiom to streaming state: the state key
    // is (flag, salt) with salt = (l_orderkey*2654435761 +
    // l_linenumber) mod 8 — a deterministic, oracle-portable spread
    // (Knuth multiplicative constant; NOT rand(), so replays and both
    // engines agree) — giving 24 live state keys across 8 state
    // partitions (parallelism 8 > cardinality 3). The per-salt
    // counters stay monotone, so max() per salted key over the update
    // sink is that sub-key's final state, and the post-agg merge
    // (sum over salts, count of live salts) is oracle-exact per-flag
    // totals. n_salts = 8 per flag in the output is the spread made
    // visible. The flag itself is single-char (R/A/N), so the '#'
    // separator can never collide with key content.
    CatalogEntry("x_stream_salted_counts", (s, d) => {
      import s.implicits._
      val schema = t(s, d, "lineitem").schema
      val salted = s.readStream.schema(schema).parquet(lineitemStreamDir(d))
        .withColumn("errors", RuleCompiler.compileRow(lineitemRules))
        .select(
          concat_ws("#",
            coalesce(col("l_returnflag"), lit("")),
            pmod(col("l_orderkey") * lit(2654435761L) + col("l_linenumber"),
              lit(8L)).cast(StringType)).as("k"),
          (size(col("errors")) > 0).as("inv"))
        .as[(String, Boolean)]
      val counts = graft.streaming.StreamingValidation.runningCounts(s, salted)
      val name = replayToMemory(s, "x_stream_salted_counts", counts.toDF(),
        "update", statePartitions = 8)
      s.table(name)
        .groupBy(col("key"))
        .agg(max(col("total")).as("t"), max(col("invalid")).as("i"))
        .withColumn("flag", substring_index(col("key"), "#", 1))
        .groupBy(col("flag"))
        .agg(sum(col("t")).as("total_rows"),
          sum(col("i")).as("invalid_rows"),
          count(lit(1)).as("n_salts"))
        .select(col("flag").as("key"), col("total_rows"),
          col("invalid_rows"), col("n_salts"))
    },
      // the salted sub-counters merge back to exact per-flag totals; the
      // salt arithmetic is engine-portable (int64, no overflow at these
      // SFs) and n_salts counts the live (flag, salt) state keys
      s"""WITH flags AS (
        |  SELECT COALESCE(l_returnflag, '') AS key,
        |    (l_orderkey * 2654435761 + l_linenumber) % 8 AS salt,
        |    $lineitemFlagTermsSql AS n_err
        |  FROM lineitem)
        |SELECT key, CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(sum(CASE WHEN n_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
        |  CAST(count(DISTINCT salt) AS BIGINT) AS n_salts
        |FROM flags GROUP BY key""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // LATE-DATA accounting replay: four deterministic micro-batches
    // (staged week files, maxFilesPerTrigger=1 — see lateStream)
    // through a 48 h-watermark streaming dedup. The three planted
    // outcomes — late-but-within-delay KEPT, beyond-delay DROPPED by
    // the watermark, duplicate-within-delay DROPPED by dedup state —
    // are the semantics a 100 TB streaming ingest lives or dies by,
    // and every drop is replayed row-exactly by the batch oracle
    // (watermark = per-batch prefix max − delay; plants sit ≥ 12 h
    // from every boundary so strict-vs-inclusive cannot matter).
    // Output: per source file, survivors + an exact integer id
    // checksum.
    CatalogEntry("x_stream_late_drops", (s, d) => {
      val dir = lateStream(s, d)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("src_file", StringType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val kept = graft.streaming.StreamingValidation.dedupStream(
        stream, Seq("event_id"), "ts", watermark = "48 hours")
      val name = replayToMemory(s, "x_stream_late_drops", kept, "append")
      s.table(name)
        .groupBy(col("src_file"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("event_id")).as("id_checksum"))
    },
      // row-exact replay of the four-batch watermark semantics: wm
      // before batch i = max event time of batches < i − 48 h (µs),
      // survivors dedup to the first arrival per id (batch order) —
      // mirrors lateStream's staging plants exactly
      """WITH p AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |mn AS (SELECT min(epoch_us(ts)) AS tsmin FROM p),
        |b AS (
        |  SELECT event_id, epoch_us(ts) AS us,
        |    (epoch_us(ts) - mn.tsmin) // 86400000000 AS dayoff
        |  FROM p, mn),
        |m AS (SELECT
        |  max(CASE WHEN dayoff < 7 THEN us END) AS m1,
        |  max(CASE WHEN dayoff < 14 THEN us END) AS m12,
        |  max(CASE WHEN dayoff < 21 THEN us END) AS m123 FROM b),
        |staged AS (
        |  SELECT 'f1' AS src_file, 1 AS batch, event_id, us FROM b WHERE dayoff < 7
        |  UNION ALL SELECT 'f2', 2, event_id, us FROM b WHERE dayoff >= 7 AND dayoff < 14
        |  UNION ALL SELECT 'f2', 2, event_id + 2000000000, us FROM b, m
        |    WHERE dayoff < 7 AND us > m.m1 - 129600000000
        |  UNION ALL SELECT 'f3', 3, event_id, us FROM b WHERE dayoff >= 14 AND dayoff < 21
        |  UNION ALL SELECT 'f3', 3, event_id + 1000000000, us FROM b WHERE dayoff < 3
        |  UNION ALL SELECT 'f4', 4, event_id, us FROM b WHERE dayoff >= 21
        |  UNION ALL SELECT 'f4', 4, event_id, us FROM b, m
        |    WHERE dayoff >= 14 AND dayoff < 21 AND us > m.m123 - 129600000000),
        |surv AS (
        |  SELECT s.* FROM staged s, m
        |  WHERE s.batch = 1
        |     OR (s.batch = 2 AND s.us >= m.m1  - 172800000000)
        |     OR (s.batch = 3 AND s.us >= m.m12 - 172800000000)
        |     OR (s.batch = 4 AND s.us >= m.m123 - 172800000000)),
        |first_arrival AS (
        |  SELECT src_file, event_id,
        |    row_number() OVER (PARTITION BY event_id ORDER BY batch) AS rn
        |  FROM surv)
        |SELECT src_file, count(*) AS n_kept,
        |  CAST(sum(event_id) AS BIGINT) AS id_checksum
        |FROM first_arrival WHERE rn = 1
        |GROUP BY src_file""".stripMargin,
      // io: a streaming replay, whose time is micro-batch and
      // state-store machinery rather than plan work
      io = true),

    // STREAMING dedup-ingest against a PERSISTED, GROWING index — the
    // #1 production ingest shape this family was built for: each
    // micro-batch probes the on-disk MinHash index
    // ([[Dedup.minHashProbeIndex]]), keeps only docs with no near-dup
    // among everything previously SEEN (base corpus + earlier
    // batches), then appends itself to the index
    // ([[Dedup.ingestDedupBatchTo]] — policy and the
    // novelty-is-order-independent argument in its scaladoc).
    // foreachBatch's strict micro-batch sequencing IS the fold; a
    // one-shot batch probe (x_dedup_incremental) cannot express the
    // index growing between increments. Deterministic replay: the
    // staged files arrive as three fixed micro-batches
    // (ingestStage), so "seen earlier" is exactly doc_id%4 < k and
    // the DuckDB oracle re-derives every survivor by exact Jaccard.
    // bands=32 (4 rows/band, vs the family default 16×4): the oracle
    // is exact Jaccard at threshold 0.5, where a 16-band probe's
    // per-pair collision probability is only ~64% at J=0.5 — it
    // passes on the current corpus, but a regenerated corpus planting
    // pairs NEAR the threshold could make the engine keep a doc the
    // oracle drops. 32 bands makes candidate collision at J>=0.5
    // structurally near-certain (1-(1-0.5^4)^32 ≈ 0.88 at exactly
    // 0.5, >0.99 by J=0.6), the same margin DedupSpec uses.
    // Output: the kept doc_ids across all three increments.
    CatalogEntry("x_stream_dedup_index", (s, d) =>
      Harness.fold(s, d, "x_stream_dedup_index", ingestStage, seedDedupIndex,
          docStreamSchema) { idxPath => (batch, bid, outDir) =>
        // the sink write rides INSIDE the fold step: one novel job per
        // batch (the write is the materialization), overlapped with
        // the index append (ingestDedupBatchTo scaladoc)
        Dedup.ingestDedupBatchTo(batch.sparkSession, batch,
          "doc_id", "text", idxPath, bands = 32, threshold = 0.5,
          batchId = Some(bid),
          sink = n => n.select(col("doc_id")).write.mode("append").parquet(outDir))
      }.select(col("doc_id")),
      // the sequential fold re-derived without recursion: file k IS
      // micro-batch k and the index grows by the WHOLE batch, so doc x
      // (x.doc_id % 4 = k, k in 1..3) survives iff no doc y seen in an
      // earlier stage (y.doc_id % 4 < k: the base index or an earlier
      // file) has exact Jaccard >= 0.5 with it. Docs without 3-gram
      // shingles (< 3 tokens, empty or null text) can never match and
      // are always kept — both engines exclude them from the pair side.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), dropped AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM sh x JOIN sh y
        |    ON y.doc_id % 4 < x.doc_id % 4
        |   AND CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        |       (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
        |  WHERE x.doc_id % 4 <> 0
        |)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 4 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
      // io: its timing includes a real disk write and read-back
      // warmups = 3: the shallower folds converge by about the third run
      io = true, warmups = 3),

    // The ingest fold WITH intra-batch dedup — the #1 production
    // ingest shape as ONE call ([[Dedup.ingestDedupBatchTo]]
    // `dedupWithinBatch = true`): each micro-batch drops docs
    // near-duplicating anything previously SEEN, then drops every doc
    // with a SMALLER-ID near-dup among the batch's index-novel rows
    // (a per-pair rule — deterministic, and exactly re-derivable by
    // the exact-Jaccard oracle). The index still grows by the FULL
    // batch, so later batches' novelty never depends on within-batch
    // survivor choices (the append-all-seen policy pin). Same staged
    // three-batch replay and bands=32 margin as x_stream_dedup_index.
    CatalogEntry("x_stream_ingest_within", (s, d) =>
      Harness.fold(s, d, "x_stream_ingest_within", ingestStage, seedDedupIndex,
          docStreamSchema) { idxPath => (batch, bid, outDir) =>
        // sink inside the fold step — one novel job per batch,
        // overlapped with the index append (see x_stream_dedup_index)
        Dedup.ingestDedupBatchTo(batch.sparkSession, batch,
          "doc_id", "text", idxPath, bands = 32, threshold = 0.5,
          batchId = Some(bid), dedupWithinBatch = true,
          sink = n => n.select(col("doc_id")).write.mode("append").parquet(outDir))
      }.select(col("doc_id")),
      // the within-batch variant: the index-drop rule above, PLUS drop
      // every doc with a smaller-id exact-Jaccard near-dup among its own
      // batch's index-novel rows (both endpoints index-novel — the
      // engine's intra pass runs after the index anti-join)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM toks WHERE len(ts) >= 3
        |), idx_dropped AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM sh x JOIN sh y
        |    ON y.doc_id % 4 < x.doc_id % 4
        |   AND CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        |       (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
        |  WHERE x.doc_id % 4 <> 0
        |), wb_dropped AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM sh x JOIN sh y
        |    ON y.doc_id % 4 = x.doc_id % 4
        |   AND y.doc_id < x.doc_id
        |   AND CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
        |       (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
        |  WHERE x.doc_id % 4 <> 0
        |    AND x.doc_id NOT IN (SELECT doc_id FROM idx_dropped)
        |    AND y.doc_id NOT IN (SELECT doc_id FROM idx_dropped)
        |)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 4 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM idx_dropped)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM wb_dropped)""".stripMargin,
      // io: its timing includes a real disk write and read-back
      // warmups = 5: an isolated 8-rep run converged only by rep 5-6
      // (49.6 → 37.2 → 27.4 → 20.6 → 18.4 → 18.4 → 17.8 s, stores
      // unloaded, no state carried over): the JIT chews through the deep
      // foreachBatch machinery, and 3 warmups left the median ~1.5x the floor
      io = true, warmups = 5),

    // STREAMING EMBEDDING ingest against the persisted, GROWING int8
    // IVF index — the ANN mirror of x_stream_dedup_index
    // ([[Ivf.ingestAnnBatchTo]]): each micro-batch of vectors retrieves
    // its top-k neighbors among everything previously SEEN (base
    // corpus %4==0 plus earlier batches), then appends itself under
    // the FROZEN seed centroids; the sink-before-append discipline
    // keeps the emitted neighbors immune to the index
    // mutation (spec-pinned in IvfSpec), and the batchId marker makes
    // a foreachBatch replay skip the re-append. nProbe = nlist
    // (exhaustive cells) so retrieval is the EXACT int8 top-k among
    // seen vectors — integer dots, closed-form for DuckDB; the pruned
    // nProbe serving shape is x_ann_index_probe's. io-classified.
    CatalogEntry("x_stream_ann_ingest", (s, d) =>
      Harness.fold(s, d, "x_stream_ann_ingest", annIngestStage, seedAnnIndex,
          vecStreamSchema) { idxPath =>
        // the coarse quantizer is FROZEN across the whole fold (append
        // never touches centroids/meta) — read it once per execution
        // instead of one centroid-collect job per micro-batch (r19)
        val frozenIdx = graft.operators.Ivf.readInt8Index(s, idxPath)
        (batch, bid, outDir) =>
          // the parquet write IS the fold step's sink-before-append
          // action (one neighbor job per batch)
          graft.operators.Ivf.ingestAnnBatchTo(batch.sparkSession, batch,
            "vec_id", "embedding", idxPath, frozenIdx, k = 5,
            nProbe = Int.MaxValue, batchId = Some(bid),
            sink = n => n
              .select(col("query_id"), col("id"), col("rank"), col("int_dot"))
              .write.mode("append").parquet(outDir))
      }.select(col("query_id"), col("id"), col("rank"), col("int_dot")),
      // exact int8 top-k among previously-seen vectors (the engine
      // probes ALL cells — see the entry), quantization re-derived as in
      // x_ann_int8; "seen" = smaller vec_id%4 class, self excluded
      """WITH codes AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |        FROM embeddings)),
        |scored AS (
        |  SELECT x.vec_id AS query_id, y.vec_id AS id,
        |    COALESCE(CAST(list_sum(list_transform(generate_series(1, len(y.q)),
        |      i -> y.q[i] * x.q[i])) AS BIGINT), 0) AS int_dot
        |  FROM codes x JOIN codes y
        |    ON y.vec_id % 4 < x.vec_id % 4 AND y.vec_id <> x.vec_id
        |  WHERE x.vec_id % 4 <> 0)
        |SELECT query_id, id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY int_dot DESC, id ASC) AS INTEGER) AS rank,
        |  int_dot
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY int_dot DESC, id ASC) <= 5""".stripMargin,
      // io: its timing includes a real disk write and read-back
      // warmups = 3: the shallower folds converge by about the third run
      io = true, warmups = 3),

    // THE PRUNED-PROBE STREAMING ANN INGEST — the production fold
    // shape x_stream_ann_ingest deliberately does not demonstrate (it
    // retrieves at nProbe = nlist for its closed-form oracle, which
    // makes it quadratic BY CONTRACT and excluded from decade probes).
    // This sibling folds micro-batches into a persisted IVF-PQ index
    // ([[Pq.ingestBatchTo]]): each batch retrieves top-5 ADC neighbors
    // among everything previously SEEN at nProbe=8 of 64 — reading
    // ONLY the probed cells' m-byte code files — then appends itself
    // under the FROZEN seed quantizers. Retrieval per batch is bounded
    // by maxQueries=256 hash-minima rows (the exactAuditMaxQueries
    // convention applied to the fold: the append ingests the FULL
    // batch, the audit probes a fixed-size slice — per-batch probe
    // work ∝ probed-cell occupancy, linear in corpus, decade-probe
    // eligible). ALL-INTEGER routing and scoring under hash-sampled
    // seed quantizers ⇒ the whole fold is closed-form re-derivable:
    // "seen" = smaller vec_id%4 class (seed = class 0), query slice =
    // the 256 smallest (hashRank, id) per class, probes/LUT/ADC the
    // ivfPqOracleSql derivation with seed-trained quantizers. NO
    // goldens. io-classified + deep-warmup class.
    CatalogEntry("x_stream_pq_ingest", (s, d) =>
      Harness.fold(s, d, "x_stream_pq_ingest", annIngestStage, seedPqIndex,
          vecStreamSchema) { idxPath =>
        // codebook/centroids/meta are FROZEN across the whole fold
        // (append touches cells/ only) — read them once per execution
        // instead of two collect jobs per micro-batch; each batch's
        // probe still re-scans cells/ (ingestBatchTo scaladoc), so
        // batch k retrieves against exactly batches < k as before (r19)
        val frozenIdx = graft.operators.Pq.readIndex(s, idxPath)
        (batch, bid, outDir) =>
          // the parquet write IS the fold step's sink-before-append
          // action (one neighbor job per batch)
          graft.operators.Pq.ingestBatchTo(batch.sparkSession, batch,
            "vec_id", "embedding", idxPath, frozenIdx, k = 5, nProbe = 8,
            batchId = Some(bid), maxQueries = 256,
            sink = n => n
              .select(col("query_id"), col("id"), col("rank"), col("adc_dot"))
              .write.mode("append").parquet(outDir))
      }.select(col("query_id"), col("id"), col("rank"), col("adc_dot")),
      // the pruned-probe fold: quantizers re-derived from the SEED class
      // (vec_id%4=0) hash minima, every vector encoded/routed under
      // them, "seen" = smaller vec_id%4 class, per-batch query slice =
      // the 256 smallest (hashRank, id) of the class, ADC over the
      // queries' top-8 cells — the ivfPqOracleSql derivation folded
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
        |  FROM codes WHERE vec_id % 4 = 0
        |  QUALIFY row_number() OVER (ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |cb AS (
        |  SELECT CAST(s.j AS INTEGER) AS subspace, samp.code,
        |    list_transform(generate_series(1, 8), i -> samp.q[CAST(s.j AS INTEGER) * 8 + i]) AS cw
        |  FROM samp CROSS JOIN generate_series(0, 7) AS s(j)),
        |cent AS (
        |  SELECT q AS ccode, CAST(row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) AS INTEGER) - 1 AS cell
        |  FROM codes WHERE vec_id % 4 = 0
        |  QUALIFY row_number() OVER (ORDER BY
        |      (((vec_id % 2147483647) + 7) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 64),
        |ccc AS (
        |  SELECT cell, ccode,
        |    CAST(list_sum(list_transform(generate_series(1, len(ccode)),
        |      i -> ccode[i] * ccode[i])) AS BIGINT) AS cc
        |  FROM cent),
        |enc AS (
        |  SELECT vec_id, subspace, code FROM (
        |    SELECT c.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY c.vec_id, cb.subspace ORDER BY
        |        list_sum(list_transform(generate_series(1, 8),
        |          i -> (c.q[cb.subspace * 8 + i] - cb.cw[i])
        |             * (c.q[cb.subspace * 8 + i] - cb.cw[i]))) ASC,
        |        cb.code ASC) AS rn
        |    FROM codes c CROSS JOIN cb) WHERE rn = 1),
        |vcell AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, x.cell,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |          i -> c.q[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM codes c CROSS JOIN ccc x) WHERE rn = 1),
        |qsel AS (
        |  SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id % 4 <> 0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % 4 ORDER BY
        |      ((vec_id % 2147483647) * 1103515245 % 2147483647) * 784588716 % 2147483647,
        |      vec_id) <= 256),
        |probed AS (
        |  SELECT query_id, cell FROM (
        |    SELECT qc.query_id, x.cell,
        |      row_number() OVER (PARTITION BY qc.query_id ORDER BY
        |        x.cc - 2 * CAST(list_sum(list_transform(generate_series(1, len(qc.qq)),
        |          i -> qc.qq[i] * x.ccode[i])) AS BIGINT) ASC,
        |        x.cell ASC) AS rn
        |    FROM qsel qc CROSS JOIN ccc x) WHERE rn <= 8),
        |lut AS (
        |  SELECT qc.query_id, cb.subspace, cb.code,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> qc.qq[cb.subspace * 8 + i] * cb.cw[i])) AS BIGINT) AS d
        |  FROM qsel qc CROSS JOIN cb),
        |scored AS (
        |  SELECT l.query_id, e.vec_id AS id, CAST(sum(l.d) AS BIGINT) AS adc_dot
        |  FROM enc e
        |  JOIN vcell vc ON vc.vec_id = e.vec_id
        |  JOIN probed p ON p.cell = vc.cell
        |  JOIN lut l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.code = e.code
        |  WHERE e.vec_id % 4 < l.query_id % 4
        |  GROUP BY l.query_id, e.vec_id)
        |SELECT query_id, id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, id ASC) AS INTEGER) AS rank,
        |  adc_dot
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc_dot DESC, id ASC) <= 5""".stripMargin,
      // io: its timing includes a real disk write and read-back
      // warmups = 3: the shallower folds converge by about the third run
      io = true, warmups = 3)
  )
}
