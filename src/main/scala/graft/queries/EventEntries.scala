package graft.queries

import graft.queries.Queries._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Events and sessions: semi-structured props, exact quantiles,
  * decayed activity, session-gap sweeps and event-value sketches.
  */
private[queries] object EventEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // JSON/multimodal props extraction (events.props is a JSON string).
    CatalogEntry("x_json_extract", (s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"),
          count(lit(1)).as("n_events"))
    },
      """SELECT event_type,
        |CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin),

    // Semi-structured key census: occurrence count of every top-level
    // JSON key in the props column — the schema-discovery pass run
    // before promoting ad-hoc JSON fields to real columns (a key
    // present on 100% of rows is a column; one at 0.1% is an
    // extension). Explode of the per-row key array, one count agg.
    CatalogEntry("x_props_keys_hist", (s, d) =>
      events(s, d)
        .select(explode(json_object_keys(col("props"))).as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("n_events")),
      """SELECT k AS key, count(*) AS n_events
        |FROM (SELECT unnest(json_keys(props)) AS k FROM events)
        |GROUP BY 1""".stripMargin),

    // Exact p50/p90/p99 by iterative histogram narrowing: ≤ 512-row
    // driver histograms per pass + one ≤ 8192-value final bucket —
    // the true order statistic without a global sort.
    CatalogEntry("x_exact_quantiles", (s, d) =>
      graft.operators.Quantiles.exactQuantiles(
        events(s, d), "value", Seq(0.5, 0.9, 0.99)),
      // type-1 (discrete) quantile: value at 1-based rank ceil(q*n),
      // clamped to >= 1 — the narrowing loop's exact contract
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |t AS (
        |  SELECT CAST(0.5 AS DOUBLE) AS q,
        |         greatest(1, CAST(ceil(0.5 * (SELECT n FROM n)) AS BIGINT)) AS rank
        |  UNION ALL
        |  SELECT CAST(0.9 AS DOUBLE),
        |         greatest(1, CAST(ceil(0.9 * (SELECT n FROM n)) AS BIGINT))
        |  UNION ALL
        |  SELECT CAST(0.99 AS DOUBLE),
        |         greatest(1, CAST(ceil(0.99 * (SELECT n FROM n)) AS BIGINT)))
        |SELECT t.q, t.rank, s.value FROM t JOIN s ON s.rn = t.rank""".stripMargin),

    // Exact per-type median, all groups narrowed simultaneously (one
    // corpus aggregate per pass against a broadcast bracket table).
    CatalogEntry("x_group_median", (s, d) =>
      graft.operators.Quantiles.groupedExactQuantile(
        events(s, d), "event_type", "value", q = 0.5),
      // per-group type-1 median via windowed rank — the single-node
      // formulation of what the engine narrows iteratively
      """WITH v AS (
        |  SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
        |s AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
        |      FROM v)
        |SELECT s.event_type, CAST(0.5 AS DOUBLE) AS q,
        |       greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT)) AS rank, s.value
        |FROM s JOIN n USING (event_type)
        |WHERE s.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))""".stripMargin),

    // Half-life-decayed per-user activity: every term count·2^-offset
    // is a dyadic rational, so the double sum is exact and
    // order-independent — hash-stable with no rounding.
    CatalogEntry("x_decayed_activity", (s, d) =>
      graft.operators.EventFeatures.decayedCounts(
        events(s, d), "ts_utc", "user_id", halfLifeDays = 1),
      // exact dyadic sum: count_d * pow(0.5, dmax - d) — every term and
      // partial sum exactly representable, so plain sum() hash-matches
      """WITH d AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dday,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(dday) AS dmax FROM d)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |  sum(n * pow(0.5, (SELECT dmax FROM mx) - dday)) AS decayed_score
        |FROM d GROUP BY user_id""".stripMargin),

    // Equal-frequency decile features: exact boundaries from the
    // narrowing selector, then a shuffle-free codegen'd labeling pass
    // (ties go down — bucket k is the interval (b_{k-1}, b_k]).
    CatalogEntry("x_value_deciles", (s, d) =>
      graft.operators.Quantiles.withQuantileBuckets(
        events(s, d), "value", nBuckets = 10, outCol = "decile")
        .select(col("event_id"), col("value"), col("decile")),
      // boundaries are the engine's exact type-1 quantiles at q = k/10
      // (rank arithmetic replicated as CAST(k AS DOUBLE)/10 * n — the
      // identical IEEE product the Scala side computes); ties go down
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |b AS (
        |  SELECT s.value AS bv
        |  FROM generate_series(1, 9) g(k)
        |  CROSS JOIN n
        |  JOIN s ON s.rn = greatest(1,
        |    CAST(ceil((CAST(g.k AS DOUBLE) / 10) * n.n) AS BIGINT)))
        |SELECT e.event_id, e.value,
        |  CASE WHEN e.value IS NULL OR isnan(e.value) THEN NULL
        |       ELSE 1 + (SELECT count(*) FROM b WHERE e.value > b.bv) END AS decile
        |FROM events e""".stripMargin),

    // Session-gap sensitivity sweep: total session count at 15/30/60
    // minute inactivity thresholds from ONE lag pass — sessions(T) =
    // distinct users + gaps exceeding T, so the sweep costs one
    // window, not one sessionization per threshold. The 30-minute row
    // equals x_sessionize's session count (spec-pinned).
    CatalogEntry("x_session_gap_sweep", (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_utc"))
      val tsUs = unix_micros(col("ts_utc"))
      val gaps = events(s, d)
        .select(col("user_id"), (tsUs - lag(tsUs, 1).over(byUser)).as("__gap"))
      val minute = 60L * 1000000L
      gaps.agg(
          countDistinct(col("user_id")).as("nu"),
          sum(when(col("__gap") > 15L * minute, 1L).otherwise(0L)).as("g15"),
          sum(when(col("__gap") > 30L * minute, 1L).otherwise(0L)).as("g30"),
          sum(when(col("__gap") > 60L * minute, 1L).otherwise(0L)).as("g60"))
        .select(explode(array(
          struct(lit(15L).as("gap_minutes"),
            (col("nu") + col("g15")).as("n_sessions")),
          struct(lit(30L).as("gap_minutes"),
            (col("nu") + col("g30")).as("n_sessions")),
          struct(lit(60L).as("gap_minutes"),
            (col("nu") + col("g60")).as("n_sessions")))).as("r"))
        .select(col("r.gap_minutes").as("gap_minutes"),
          col("r.n_sessions").as("n_sessions"))
    },
      // sessions(T) = distinct users + gaps > T; same ts-ordered lag as
      // the engine (ties gap 0 regardless of tie order)
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) -
        |      lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events),
        |a AS (
        |  SELECT count(DISTINCT user_id) AS nu,
        |    sum(CASE WHEN gap > 900000000 THEN 1 ELSE 0 END) AS g15,
        |    sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS g30,
        |    sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END) AS g60
        |  FROM g)
        |SELECT CAST(k.gap_minutes AS BIGINT) AS gap_minutes,
        |  CAST(CASE k.gap_minutes WHEN 15 THEN nu + g15
        |       WHEN 30 THEN nu + g30 ELSE nu + g60 END AS BIGINT) AS n_sessions
        |FROM a, (SELECT unnest([15, 30, 60]) AS gap_minutes) k""".stripMargin),

    // Winsorized per-type value sums: exact p01/p99 clip boundaries
    // from the narrowing selector, decimal-exact aggregation after a
    // shuffle-free clip projection.
    CatalogEntry("x_winsorize", (s, d) => {
      val w = graft.operators.Quantiles.winsorize(
        events(s, d), "value", pLo = 0.01, pHi = 0.99, outCol = "wv")
      w.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec(sum(dec(col("wv")))).cast(DoubleType).as("sum_winsorized"))
    },
      // p01/p99 boundaries via the exact rank formula, clip with
      // least/greatest, then the DECIMAL-routed sum (order-independent)
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |lo AS (SELECT s.value AS b FROM s, n
        |       WHERE s.rn = greatest(1, CAST(ceil(0.01 * n.n) AS BIGINT))),
        |hi AS (SELECT s.value AS b FROM s, n
        |       WHERE s.rn = greatest(1, CAST(ceil(0.99 * n.n) AS BIGINT)))
        |SELECT event_type, count(*) AS n_events,
        |  CAST(CAST(sum(CASE WHEN e.value IS NULL OR isnan(e.value) THEN NULL
        |    ELSE CAST(least(greatest(e.value, (SELECT b FROM lo)),
        |      (SELECT b FROM hi)) AS DECIMAL(18,2)) END)
        |    AS DECIMAL(18,2)) AS DOUBLE) AS sum_winsorized
        |FROM events e GROUP BY event_type""".stripMargin),

    // COUNT-MIN frequency estimation — the frequency sibling of the
    // HLL entry and the sketch counterpart of x_heavy_hitters'
    // Misra-Gries: build a 4×512 exact-BIGINT count-min sketch of
    // per-user event counts (the ONLY state — a plan constant at any
    // input volume or key cardinality; the sketch is LINEAR, so
    // increments built independently merge by cell-wise addition in
    // any order — SketchesSpec pins both properties), then point-look-
    // up the exact top-20 users against it. cms_est ≥ n_events ALWAYS
    // (every occurrence lands in all the key's cells; collisions only
    // add) — the overestimate column is the measured price of ~2k
    // counters of state for a frequency answer over any volume; the
    // portable double-modular hash family keeps every cell
    // DuckDB-re-derivable, no goldens.
    CatalogEntry("x_cms_topk", (s, d) => {
      val ev = t(s, d, "events")
      val sketch = graft.operators.Sketches.countMinSketch(
        ev, "user_id", width = 512, depth = 4)
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id").asc).limit(20)
      graft.operators.Sketches.countMinLookup(
          sketch, top, "user_id", width = 512, depth = 4)
        .select(col("user_id"), col("n_events"), col("cms_est"),
          (col("cms_est") - col("n_events")).as("overestimate"))
    },
      // sketch cells and lookups re-derived with the hashRank
      // double-modular formula (salts 21..24 — all intermediates < 2^63,
      // overflow-checked-safe); a probed cell with no sketch row is an
      // EMPTY cell → COALESCE 0, matching countMinLookup's left join
      """WITH h AS (
        |  SELECT user_id, s.r,
        |    ((((user_id % 2147483647) + 21 + s.r) * 1103515245 % 2147483647)
        |      * 784588716) % 2147483647 % 512 AS cell
        |  FROM events CROSS JOIN generate_series(0, 3) AS s(r)),
        |sk AS (SELECT r, cell, count(*) AS c FROM h GROUP BY r, cell),
        |top AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, user_id ASC) <= 20),
        |est AS (
        |  SELECT t.user_id, t.n_events, min(COALESCE(sk.c, 0)) AS cms_est
        |  FROM top t CROSS JOIN generate_series(0, 3) AS s(r)
        |  LEFT JOIN sk ON sk.r = s.r AND sk.cell =
        |    ((((t.user_id % 2147483647) + 21 + s.r) * 1103515245 % 2147483647)
        |      * 784588716) % 2147483647 % 512
        |  GROUP BY t.user_id, t.n_events)
        |SELECT user_id, n_events,
        |  CAST(cms_est AS BIGINT) AS cms_est,
        |  CAST(cms_est - n_events AS BIGINT) AS overestimate
        |FROM est""".stripMargin)
  )
}
