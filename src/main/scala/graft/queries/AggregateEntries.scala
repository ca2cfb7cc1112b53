package graft.queries

import graft.operators.Parallelism.widen
import graft.operators.{Dedup, Drift}
import graft.queries.Queries._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Global and aggregate operators (A1/A4/A5/A6) and the event
  * and order analytics built from them, plus the join-cardinality,
  * quantile, cohort and skew-safe aggregates of the extensions.
  */
private[queries] object AggregateEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // A1: duplicate_check — dup groups via hash agg (map-side partials;
    // the per-row demotion variant is windowed in ValidationPipeline).
    CatalogEntry("a1_duplicate_check", (s, d) => {
      Dedup.exactDupGroups(t(s, d, "lineitem"), Seq("l_partkey", "l_suppkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("dup_count"))
    },
      """SELECT l_partkey, l_suppkey, count(*) AS dup_count
        |FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin),

    // A4: unique scope=daily — (day, key) groups with >1 member.
    CatalogEntry("a4_unique_daily", (s, d) => {
      events(s, d)
        .groupBy(date_format(col("ts_utc"), "yyyy-MM-dd").as("event_day"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
    },
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_day, user_id, count(*) AS cnt
        |FROM events GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin),

    // Rolling per-user daily activity (trailing 7 calendar days): the
    // event-feature step. RANGE frame over day ordinals so gap days
    // count by value; the stream collapses to (user, day) before the
    // per-user window — state bounded by one user's active days.
    CatalogEntry("x_rolling_activity", (s, d) => {
      graft.operators.EventFeatures.rollingDailyCounts(
        events(s, d), "ts_utc", "user_id", windowDays = 7)
    },
      // (user, day) collapse + per-user RANGE window over day ordinals
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, n_events,
        |  CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY d
        |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_events_roll
        |FROM daily""".stripMargin),

    // Funnel completion-latency distribution: exact ORDER-STATISTIC
    // p50/p90 (rank ceil(q·n) — the x_temporal_split convention) over
    // integer-µs view→purchase gaps of completers, via the
    // histogram-narrowing selector (≤ 512-row driver state; the
    // interpolating percentile() it replaces buffered the whole gap
    // array in one aggregation state). The gap frame is checkpointed:
    // the funnel's per-user windows run once, not once per narrowing
    // pass.
    CatalogEntry("x_conversion_latency", (s, d) => {
      val f = graft.operators.EventFeatures.funnel(
        events(s, d), "ts_utc", "user_id", "event_type",
        steps = Seq("view", "click", "purchase"),
        windowMicros = 86400000000L)
      val gaps = f.filter(col("t3_us") >= 0)
        .select((col("t3_us") - col("t1_us")).as("gap"))
        .localCheckpoint(false)
      val cuts = graft.operators.Quantiles.exactQuantiles(
          gaps.withColumn("__v", col("gap").cast(DoubleType)), "__v",
          Seq(0.5, 0.9))
        .agg(max(when(col("q") === 0.5, col("value"))).as("__p50"),
          max(when(col("q") === 0.9, col("value"))).as("__p90"))
      gaps.agg(count(lit(1)).as("n_completed"), max(col("gap")).as("max_us"))
        .crossJoin(broadcast(cuts))
        .select(col("n_completed"),
          col("__p50").cast(LongType).as("p50_us"),
          col("__p90").cast(LongType).as("p90_us"),
          col("max_us"))
    },
      // funnel CTEs as x_funnel; inner joins keep completers only;
      // quantile_cont == Spark percentile (type-7, the quality-bands
      // precedent)
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |comp AS (
        |  SELECT epoch_us(t3) - epoch_us(t1) AS gap
        |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)),
        |n AS (SELECT count(*) AS n FROM comp),
        |r AS (SELECT gap, row_number() OVER (ORDER BY gap) AS rn FROM comp)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM comp) AS n_completed,
        |  (SELECT CAST(gap AS BIGINT) FROM r, n
        |   WHERE rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))) AS p50_us,
        |  (SELECT CAST(gap AS BIGINT) FROM r, n
        |   WHERE rn = greatest(1, CAST(ceil(0.9 * n.n) AS BIGINT))) AS p90_us,
        |  (SELECT CAST(max(gap) AS BIGINT) FROM comp) AS max_us""".stripMargin),

    // Weekly retention matrix: cohort = epoch-week of first signup,
    // offsets from cohort week forward; all-integer outputs.
    CatalogEntry("x_retention", (s, d) =>
      graft.operators.EventFeatures.retentionCohorts(
        events(s, d), "ts_utc", "user_id",
        cohortFilter = col("event_type") === "signup"),
      // epoch-week integer cohorts; DuckDB // is floor division and
      // Spark div truncates, identical on the positive day domain
      """WITH fs AS (
        |  SELECT user_id, min(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS d0
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |coh AS (SELECT user_id, d0 // 7 AS cohort_week FROM fs),
        |cs AS (SELECT cohort_week, count(*) AS n_cohort FROM coh GROUP BY cohort_week),
        |act AS (
        |  SELECT DISTINCT user_id, datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS w
        |  FROM events),
        |ret AS (
        |  SELECT coh.cohort_week, act.w - coh.cohort_week AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_active
        |  FROM coh JOIN act USING (user_id)
        |  WHERE act.w >= coh.cohort_week
        |  GROUP BY 1, 2)
        |SELECT ret.cohort_week, ret.week_offset, ret.n_active,
        |       CAST(cs.n_cohort AS BIGINT) AS n_cohort
        |FROM ret JOIN cs USING (cohort_week)""".stripMargin),

    // Day-k retention curve (k = 1, 7, 28): of all users, how many
    // were active again EXACTLY k days after their first-ever day —
    // x_retention's cohort matrix collapsed to the three canonical
    // checkpoints. First day per user is an algebraic min; the three
    // probes are one semi-join of (user, first+k) against the
    // distinct-activity frame — never a per-k rescan of the stream.
    CatalogEntry("x_retention_curve", (s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("f"))
      val nUsers = first.count()
      first.select(col("user_id"),
          explode(expr("array(1L, 7L, 28L)")).as("k"), col("f"))
        .select(col("user_id"), col("k"), (col("f") + col("k")).as("day"))
        .join(ud, Seq("user_id", "day"), "left_semi")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_retained"))
        .select(col("k"), lit(nUsers).as("n_users"), col("n_retained"))
    },
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS f FROM ud GROUP BY 1),
        |n AS (SELECT count(*) AS n_users FROM f),
        |ks AS (SELECT unnest([1, 7, 28]) AS k),
        |p AS (SELECT f.user_id, ks.k, f.f + ks.k AS day FROM f CROSS JOIN ks),
        |r AS (
        |  SELECT p.k, count(*) AS n_retained FROM p
        |  WHERE EXISTS (SELECT 1 FROM ud
        |                WHERE ud.user_id = p.user_id AND ud.day = p.day)
        |  GROUP BY 1)
        |SELECT CAST(r.k AS BIGINT) AS k, CAST(n.n_users AS BIGINT) AS n_users,
        |  CAST(r.n_retained AS BIGINT) AS n_retained
        |FROM r, n""".stripMargin),

    // Near-zero-variance screen over event values: per event type,
    // row count, distinct values, and the modal value with its count
    // (null/NaN measurements excluded — the incidence entry profiles
    // those). A feature whose top value carries almost all the mass
    // is dropped before any model sees it. Two map-side-combined
    // aggs + one max-struct; no window anywhere.
    CatalogEntry("x_near_zero_variance", (s, d) => {
      val v = events(s, d)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("n"))
      v.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          max(struct(col("n"), (-col("value")).as("nv"))).as("m"))
        .select(col("event_type"), col("n_rows"), col("n_distinct"),
          (-col("m.nv")).as("top_value"), col("m.n").as("top_n"))
    },
      """WITH v AS (
        |  SELECT event_type, value, count(*) AS n FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2),
        |r AS (SELECT event_type, value, n,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY n DESC, value ASC) AS rn,
        |        sum(n) OVER (PARTITION BY event_type) AS n_rows,
        |        count(*) OVER (PARTITION BY event_type) AS n_distinct
        |      FROM v)
        |SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  value AS top_value, CAST(n AS BIGINT) AS top_n
        |FROM r WHERE rn = 1""".stripMargin),

    // Conversion funnel view→click→purchase with a 24h completion
    // window: greedy-earliest strict chain per user, pure integer-µs
    // comparisons. 14/150 users convert at sf0.01 — the flag is
    // non-vacuous.
    CatalogEntry("x_funnel", (s, d) =>
      graft.operators.EventFeatures.funnel(
        events(s, d), "ts_utc", "user_id", "event_type",
        steps = Seq("view", "click", "purchase"),
        windowMicros = 86400000000L),
      // greedy-earliest strict chain: each step is a min over events
      // later than the previous step's resolved time; -1 sentinel keeps
      // the epoch-µs columns non-null (dtype-stable across engines)
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
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin),

    // Per-user daily burst flags: each user's own mean + 2σ baseline
    // over active days — integer moments, one IEEE division each,
    // correctly-rounded sqrt, so the 0/1 flags are hash-exact.
    CatalogEntry("x_daily_anomalies", (s, d) =>
      graft.operators.EventFeatures.dailyAnomalies(
        events(s, d), "ts_utc", "user_id", z = 2.0),
      // two-pass integer moments; mean/E[X2] one division each, variance
      // clamped at zero, IEEE sqrt correctly rounded — the comparison
      // inputs are bit-identical, so the 0/1 flags hash-match
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT user_id, count(*) AS n_days,
        |         sum(n_events) AS s1, sum(n_events * n_events) AS s2
        |  FROM daily GROUP BY user_id)
        |SELECT daily.user_id, strftime(d, '%Y-%m-%d') AS day, n_events,
        |  CAST(CAST(n_events AS DOUBLE) >
        |    (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) +
        |     2.0 * sqrt(greatest(CAST(0.0 AS DOUBLE),
        |       CAST(s2 AS DOUBLE) / CAST(n_days AS DOUBLE) -
        |       (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) *
        |       (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)))))
        |    AS INTEGER) AS is_anomaly
        |FROM daily JOIN stats USING (user_id)""".stripMargin),

    // First-order event-type transition matrix (Markov counts): one
    // key-partitioned lead window over (ts, event_id), then a
    // |types|²-bounded pair agg + broadcast denominator.
    // percent_rank over the bounded daily series per type: both
    // engines define it as (rank−1)/(rows−1) — an exact IEEE division
    // of the same integers, so the doubles are bit-identical. Adds
    // the relative-rank window family to the catalog.
    CatalogEntry("x_percent_rank", (s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(count(lit(1)).as("n"))
      daily.select(col("event_type"), col("day"), col("n"),
        percent_rank().over(
          Window.partitionBy(col("event_type")).orderBy(col("n"))).as("pr"))
    },
      // lead over the same (ts, event_id) per-user order; n_from summed
      // off the pair counts (sum(BIGINT) is HUGEINT in DuckDB — cast back)
      // (rank−1)/(rows−1): same integer inputs → bit-identical doubles
      """WITH dcount AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        |  percent_rank() OVER (PARTITION BY event_type ORDER BY n) AS pr
        |FROM dcount""".stripMargin),

    // Weekly-seasonality strength: exact Spearman numerator between
    // each day's volume and the volume 7 days earlier, per event type
    // — high rank agreement at lag 7 = strong weekly rhythm (reads
    // against x_dow_profile). Same doubled tie-averaged rank formula
    // as x_rank_corr, over the joined bounded daily series.
    CatalogEntry("x_seasonal_corr", (s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(count(lit(1)).as("n"))
      val joined = daily.join(
        daily.select(col("event_type"), (col("day") + 7).as("day"),
          col("n").as("n7")),
        Seq("event_type", "day"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("n"))
      val wvt = Window.partitionBy(col("event_type"), col("n"))
      val wt = Window.partitionBy(col("event_type")).orderBy(col("n7"))
      val wtt = Window.partitionBy(col("event_type"), col("n7"))
      joined.withColumn("__rv",
          lit(2L) * rank().over(wv) + count(lit(1)).over(wvt) - 1L)
        .withColumn("__rt",
          lit(2L) * rank().over(wt) + count(lit(1)).over(wtt) - 1L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("__rv") - col("__rt")) * (col("__rv") - col("__rt")))
            .as("d2x4"))
    },
      // same doubled-rank Spearman numerator, lag-7 self-join
      """WITH dcount AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.n, b.n AS n7
        |  FROM dcount a JOIN dcount b
        |    ON a.event_type = b.event_type AND a.day = b.day + 7),
        |r AS (
        |  SELECT event_type,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY n)
        |      + count(*) OVER (PARTITION BY event_type, n) - 1 AS rv,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY n7)
        |      + count(*) OVER (PARTITION BY event_type, n7) - 1 AS rt
        |  FROM j)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum((rv - rt) * (rv - rt)) AS BIGINT) AS d2x4
        |FROM r GROUP BY 1""".stripMargin),

    // Exact Spearman trend test per event type: is DAILY VOLUME
    // drifting with time? d2x4 is the integer numerator
    // Σ(2r_n − 2r_day)² over tie-averaged ranks of the daily-count
    // series (doubled ranks 2r = 2·rank + ties − 1 clear the .5
    // halves, squaring clears the rest: scale 4) — Spearman
    // ρ = 1 − 6·(d2x4/4)/(n(n²−1)) is driver arithmetic. The corpus
    // collapses to the (type, day) aggregate BEFORE any window, so the
    // rank windows run over the bounded daily series (the
    // x_ewma_trend/x_weekly_deltas contract), never a per-type sort of
    // raw rows.
    CatalogEntry("x_rank_corr", (s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("n_events"))
      val wvt = Window.partitionBy(col("event_type"), col("n_events"))
      // day is unique within a type (plain rank would do), but both
      // axes share the doubled-rank form so the formula stays one
      val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wtt = Window.partitionBy(col("event_type"), col("day"))
      daily.withColumn("__rv",
          lit(2L) * rank().over(wv) + count(lit(1)).over(wvt) - 1L)
        .withColumn("__rt",
          lit(2L) * rank().over(wt) + count(lit(1)).over(wtt) - 1L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("__rv") - col("__rt")) * (col("__rv") - col("__rt")))
            .as("d2x4"))
    },
      // doubled tie-averaged ranks (2r = 2·rank + ties − 1) keep the
      // Spearman numerator integral; ranks over the daily-count series
      """WITH dcount AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY n_events)
        |      + count(*) OVER (PARTITION BY event_type, n_events) - 1 AS rv,
        |    2*rank() OVER (PARTITION BY event_type ORDER BY day)
        |      + count(*) OVER (PARTITION BY event_type, day) - 1 AS rt
        |  FROM dcount)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum((rv - rt) * (rv - rt)) AS BIGINT) AS d2x4
        |FROM r GROUP BY 1""".stripMargin),

    CatalogEntry("x_event_transitions", (s, d) =>
      graft.operators.EventFeatures.transitionCounts(
        events(s, d), "ts_utc", "user_id", "event_type", "event_id"),
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pairs AS (
        |  SELECT from_type, to_type, count(*) AS n_pairs
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
        |        FROM pairs GROUP BY 1)
        |SELECT pairs.from_type, pairs.to_type, pairs.n_pairs, tot.n_from
        |FROM pairs JOIN tot USING (from_type)""".stripMargin),

    // Gap-filled 6-hourly resample per event type: dense bucket grid
    // (|types| × sequence over the broadcast span) left-joined onto
    // the one-shuffle counts agg; empty buckets are explicit zeros.
    CatalogEntry("x_resample", (s, d) =>
      graft.operators.EventFeatures.resampleCounts(
        events(s, d), "ts_utc", "event_type", bucketSeconds = 21600L),
      // dense 6-hour bucket grid via generate_series over the corpus
      // span, left-joined onto the counts; gaps are explicit zeros
      """WITH h AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS bucket
        |  FROM events),
        |span AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM h),
        |keys AS (SELECT DISTINCT event_type FROM events),
        |grid AS (
        |  SELECT k.event_type, unnest(generate_series(s.b0, s.b1)) AS bucket
        |  FROM keys k, span s),
        |c AS (SELECT event_type, bucket, count(*) AS n FROM h GROUP BY 1, 2)
        |SELECT grid.event_type, CAST(grid.bucket AS BIGINT) AS bucket,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |FROM grid LEFT JOIN c USING (event_type, bucket)""".stripMargin),

    // SCD2 historization: per-user state runs as half-open validity
    // intervals (open run = -1 sentinel); both windows ride ONE
    // key-partitioned exchange, output ∝ state changes.
    CatalogEntry("x_scd2_intervals", (s, d) =>
      graft.operators.Upsert.stateIntervals(
        events(s, d), "user_id", "ts_utc", "event_type", "event_id"),
      // lag to find state changes, lead over the SURVIVING change rows
      // to close intervals; open runs carry the -1 sentinel
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
        |  FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY t, event_id) AS prev
        |  FROM e),
        |chg AS (
        |  SELECT user_id, event_type, t, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS state, t AS valid_from_us,
        |  coalesce(lead(t) OVER (
        |    PARTITION BY user_id ORDER BY t, event_id), -1) AS valid_to_us
        |FROM chg""".stripMargin),

    // Current-state snapshot off the SCD2 history — the most common
    // SCD2 read (WHERE valid_to IS OPEN), rolled up per state.
    CatalogEntry("x_scd2_current", (s, d) =>
      graft.operators.Upsert.stateIntervals(
          events(s, d), "user_id", "ts_utc", "event_type", "event_id")
        .filter(col("valid_to_us") === -1L)
        .groupBy(col("state")).agg(count(lit(1)).as("n_users")),
      // open intervals only (no lead), per state
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
        |  FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY t, event_id) AS prev
        |  FROM e),
        |chg AS (
        |  SELECT user_id, event_type, t, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |iv AS (
        |  SELECT user_id, event_type AS state,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nxt
        |  FROM chg)
        |SELECT state, count(*) AS n_users
        |FROM iv WHERE nxt IS NULL GROUP BY 1""".stripMargin),

    // RFM segmentation: per-user recency/frequency/monetary + exact
    // rank-bucket quintile scores (rank*5 div n + 1 over the
    // deterministic (metric, key) order — never an ntile window).
    CatalogEntry("x_user_rfm", (s, d) =>
      graft.operators.EventFeatures.rfmScores(
        events(s, d), "ts_utc", "user_id", "event_type", "value",
        monetaryType = "purchase"),
      // exact rank buckets ((rn-1)*5 // n + 1) over (metric, key) — the
      // engine's ntile-free formula; monetary decimal-exact then DOUBLE
      """WITH mx AS (
        |  SELECT max(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS dmax FROM events),
        |ag AS (
        |  SELECT user_id,
        |    CAST((SELECT dmax FROM mx) - max(datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS BIGINT) AS r_days,
        |    count(*) AS f,
        |    CAST(coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(18,2)),
        |      CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS m
        |  FROM events GROUP BY user_id),
        |n AS (SELECT count(*) AS n FROM ag)
        |SELECT user_id, r_days, f, m,
        |  CAST((row_number() OVER (ORDER BY r_days DESC, user_id) - 1) * 5
        |    // (SELECT n FROM n) + 1 AS BIGINT) AS r_score,
        |  CAST((row_number() OVER (ORDER BY f ASC, user_id) - 1) * 5
        |    // (SELECT n FROM n) + 1 AS BIGINT) AS f_score,
        |  CAST((row_number() OVER (ORDER BY m ASC, user_id) - 1) * 5
        |    // (SELECT n FROM n) + 1 AS BIGINT) AS m_score
        |FROM ag""".stripMargin),

    // Top-20 three-step journeys (path DISCOVERY, vs x_funnel's
    // hypothesis measurement): one shared lead window, |types|³
    // agg, TakeOrderedAndProject cut with path-ascending ties.
    CatalogEntry("x_event_paths", (s, d) =>
      graft.operators.EventFeatures.pathCounts(
        events(s, d), "ts_utc", "user_id", "event_type", "event_id",
        depth = 3, k = 20),
      // two stacked leads over the same per-user order; the top-20 cut
      // breaks count ties path-ascending on both engines
      """WITH p AS (
        |  SELECT event_type AS e0,
        |         lead(event_type, 1) OVER w AS e1,
        |         lead(event_type, 2) OVER w AS e2
        |  FROM events WHERE event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n_paths
        |FROM p WHERE e2 IS NOT NULL
        |GROUP BY 1 ORDER BY n_paths DESC, path ASC LIMIT 20""".stripMargin),

    // Dyadic EWMA trend per type: closed-form 2^-k terms over observed
    // weekly ranks — exact, order-independent, oracle-replayable.
    CatalogEntry("x_ewma_trend", (s, d) =>
      graft.operators.EventFeatures.ewmaWeekly(
        events(s, d), "ts_utc", "event_type"),
      // closed-form dyadic EWMA over observed weekly ranks: l_i =
      // 2^-i x_0 + sum 2^-(i-j+1) x_j — every term exact, sum exact
      """WITH w AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, week, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY week) - 1 AS i
        |  FROM w)
        |SELECT a.event_type, CAST(a.week AS BIGINT) AS week, a.n,
        |  sum(b.n * CASE WHEN b.i = 0 THEN pow(0.5, a.i)
        |            ELSE pow(0.5, a.i - b.i + 1) END) AS ewma
        |FROM r a JOIN r b ON a.event_type = b.event_type AND b.i <= a.i
        |GROUP BY a.event_type, a.week, a.n""".stripMargin),

    // Week-over-week deltas per type: one map-side-combined
    // (type, week) collapse, then a type-partitioned lag over the
    // |types × weeks|-bounded frame; first weeks carry null prev.
    CatalogEntry("x_weekly_deltas", (s, d) => {
      val week = expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
      val weekly = events(s, d)
        .groupBy(col("event_type"), week.cast(LongType).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("delta", col("n") - col("prev_n"))
    },
      // (type, epoch-week) counts + lag per type; nullable prev/delta
      """WITH w AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(week AS BIGINT) AS week, n,
        |  lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
        |  n - lag(n) OVER (PARTITION BY event_type ORDER BY week) AS delta
        |FROM w""".stripMargin),

    // Behavioral breadth: distinct event types per user → histogram
    // — the engagement-depth view next to x_type_affinity's pair
    // counts.
    CatalogEntry("x_type_diversity", (s, d) =>
      events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_types"))
        .groupBy(col("n_types")).agg(count(lit(1)).as("n_users")),
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |c AS (SELECT user_id, count(*) AS n_types FROM ut GROUP BY 1)
        |SELECT CAST(n_types AS BIGINT) AS n_types, count(*) AS n_users
        |FROM c GROUP BY 1""".stripMargin),

    // Weekly churn: per week, active users and how many are ABSENT
    // the following week — the loss-side companion to x_user_growth's
    // new-user counts (the final week churns fully by construction:
    // there is no week after it). One distinct + one self-join on the
    // shifted week.
    CatalogEntry("x_churn", (s, d) => {
      val uw = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
            .cast(LongType).as("week"))
        .distinct()
      val next = uw.select(col("user_id"), (col("week") - 1).as("week"),
        lit(1).as("__next"))
      uw.join(next, Seq("user_id", "week"), "left")
        .groupBy(col("week"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("__next").isNull, 1L).otherwise(0L)).as("n_churned"))
    },
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week
        |  FROM events)
        |SELECT CAST(a.week AS BIGINT) AS week, count(*) AS n_active,
        |  CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_churned
        |FROM uw a LEFT JOIN uw b
        |  ON a.user_id = b.user_id AND b.week = a.week + 1
        |GROUP BY 1""".stripMargin),

    // Activity concentration: the top-1% heaviest users' share of all
    // events, as exact integers (top_events / total_events). k =
    // ceil(0.01·U) from one bounded count; the k heavy users come
    // from a TakeOrdered over per-user counts (ties to smaller id).
    CatalogEntry("x_power_users", (s, d) => {
      val per = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      val u = per.count()
      val k = math.max(1L, math.ceil(0.01 * u).toLong)
      val top = per.orderBy(col("n").desc, col("user_id").asc).limit(k.toInt)
      top.agg(sum(col("n")).as("top_events"))
        .select(lit(u).as("n_users"), lit(k).as("k"), col("top_events"))
        .crossJoin(broadcast(
          per.agg(sum(col("n")).as("total_events"))))
    },
      // k = greatest(1, ceil(0.01*U)); ties to smaller user_id
      """WITH per AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |u AS (SELECT count(*) AS u, CAST(sum(n) AS BIGINT) AS total FROM per),
        |top AS (
        |  SELECT n FROM per, u
        |  ORDER BY n DESC, user_id ASC
        |  LIMIT (SELECT greatest(1, CAST(ceil(CAST(0.01 AS DOUBLE) * u) AS BIGINT)) FROM u))
        |SELECT u.u AS n_users,
        |  greatest(1, CAST(ceil(CAST(0.01 AS DOUBLE) * u.u) AS BIGINT)) AS k,
        |  (SELECT CAST(sum(n) AS BIGINT) FROM top) AS top_events,
        |  u.total AS total_events
        |FROM u""".stripMargin),

    // 7-day rolling distinct users (WAU) per day: each (user, day)
    // activity row CONTRIBUTES to the next 7 report days (in-row
    // sequence explode — a bounded 7× expansion), then one distinct
    // count per day. Exact rolling distincts without a range join and
    // without re-scanning 7 days per report day.
    CatalogEntry("x_rolling_wau", (s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      ud.select(col("user_id"),
          explode(expr("sequence(day, day + 6)")).as("rday"))
        .join(broadcast(days.select(col("day").as("rday"))), "rday")
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(col("rday").as("day"), col("wau"))
    },
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |c AS (
        |  SELECT ud.user_id, d2.day AS rday
        |  FROM ud JOIN days d2 ON d2.day BETWEEN ud.day AND ud.day + 6)
        |SELECT CAST(rday AS BIGINT) AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |FROM c GROUP BY 1""".stripMargin),

    // Shuffle-partition balance audit: events and distinct users per
    // hash partition (the repo's portable 2-round LCG mod 32, the
    // same family every split/sample entry replays in SQL) — the
    // pre-flight that shows whether a keyed shuffle of this stream
    // would land balanced or hot-spotted. One count agg; 32 rows.
    CatalogEntry("x_hash_balance", (s, d) =>
      events(s, d)
        .groupBy(pmod(graft.operators.Sampling.hashRank(col("user_id")),
          lit(32L)).as("partition_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users")),
      """SELECT
        |  (((((user_id % 2147483647) + 0) * 1103515245) % 2147483647)
        |    * 784588716) % 2147483647 % 32 AS partition_id,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin),

    // Audience overlap between event types: for every type pair,
    // user-set sizes and intersection (Jaccard derivable exactly) —
    // which behaviors share an audience vs split it. The self-join
    // runs on the distinct (type, user) frame, so the expansion is
    // bounded by |types|² per user, never events².
    CatalogEntry("x_user_overlap_types", (s, d) => {
      // per-type user counts ride a COUNT window on the distinct frame
      // BEFORE the self-join, so each join side carries its own size —
      // the separate sizes agg was referenced twice and re-evaluated
      // the events-distinct corpus pass once per reference (r18 plan
      // audit: 4 event scans for 2 passes of work). n_a/n_b are
      // constant per type, so min() under the pair group is exact.
      val tu = events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
      tu.as("a").join(tu.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"),
          min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"))
    },
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        |i AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, CAST(sa.n AS BIGINT) AS n_a,
        |  CAST(sb.n AS BIGINT) AS n_b, CAST(i.n_both AS BIGINT) AS n_both
        |FROM i
        |JOIN s sa ON sa.event_type = i.type_a
        |JOIN s sb ON sb.event_type = i.type_b""".stripMargin),

    // Week-0 cohort behavior: per event type, events inside each
    // user's FIRST 7 days vs after — what new users actually do
    // before habits settle (onboarding design reads this table).
    // First day is an algebraic min joined back on the key.
    CatalogEntry("x_first_week_behavior", (s, d) => {
      // each user's first day is a MIN window over the same user
      // partitioning — the agg-then-join-back form referenced the
      // event scan twice (r18 plan audit)
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        expr("datediff(to_date(ts_utc), date '1970-01-01')")
          .cast(LongType).as("day"))
      ev.withColumn("f",
          min(col("day")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("day") < col("f") + 7L, 1L).otherwise(0L))
            .as("n_week0"),
          sum(when(col("day") >= col("f") + 7L, 1L).otherwise(0L))
            .as("n_later"))
    },
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS f FROM ev GROUP BY 1)
        |SELECT ev.event_type,
        |  CAST(sum(CASE WHEN ev.day < f.f + 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_week0,
        |  CAST(sum(CASE WHEN ev.day >= f.f + 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_later
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1""".stripMargin),

    // Median dwell time per event-type transition: the lag gap on the
    // (ts, event_id)-ordered per-user stream keyed by "from>to", then
    // the grouped exact-quantile selector (|transitions|² groups,
    // ≤ B-row driver state each; no per-group sort). The funnel-
    // diagnosis companion to x_event_transitions' count matrix.
    CatalogEntry("x_step_latency", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("__t"), col("event_id"))
      val gaps = events(s, d)
        .filter(col("event_type").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts_utc")).as("__t"))
        .withColumn("__from", lag(col("event_type"), 1).over(w))
        .withColumn("__gap", (col("__t") - lag(col("__t"), 1).over(w))
          .cast(DoubleType))
        .filter(col("__from").isNotNull)
        .select(concat_ws(">", col("__from"), col("event_type"))
          .as("transition"), col("__gap"))
      graft.operators.Quantiles.groupedExactQuantile(
        gaps, "transition", "__gap", q = 0.5)
    },
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (
        |  SELECT user_id,
        |    lag(event_type) OVER w AS f, event_type AS tt,
        |    t - lag(t) OVER w AS gap
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |v AS (SELECT f || '>' || tt AS transition, CAST(gap AS DOUBLE) AS v
        |      FROM g WHERE f IS NOT NULL),
        |n AS (SELECT transition, count(*) AS n FROM v GROUP BY 1),
        |s AS (SELECT transition, v,
        |        row_number() OVER (PARTITION BY transition ORDER BY v) AS rn
        |      FROM v)
        |SELECT s.transition, CAST(0.5 AS DOUBLE) AS q,
        |  CAST(greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT)) AS BIGINT) AS rank,
        |  s.v AS value
        |FROM n JOIN s ON s.transition = n.transition
        |  AND s.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))""".stripMargin),

    // New-vs-returning mix per day: events and distinct users split
    // by whether the day is the user's first-ever — the acquisition/
    // retention composition of daily traffic. First day is an
    // algebraic min joined back on the key.
    CatalogEntry("x_new_vs_returning", (s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("datediff(to_date(ts_utc), date '1970-01-01')")
          .cast(LongType).as("day"))
      // first day as a MIN window — the agg-then-join-back form
      // scanned events twice (r18 plan audit)
      ev.withColumn("f",
          min(col("day")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("day"))
        .agg(
          sum(when(col("day") === col("f"), 1L).otherwise(0L))
            .as("n_new_user_events"),
          sum(when(col("day") =!= col("f"), 1L).otherwise(0L))
            .as("n_returning_events"),
          countDistinct(when(col("day") === col("f"), col("user_id")))
            .as("n_new_users"),
          countDistinct(when(col("day") =!= col("f"), col("user_id")))
            .as("n_returning_users"))
    },
      """WITH ev AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS f FROM ev GROUP BY 1)
        |SELECT CAST(ev.day AS BIGINT) AS day,
        |  CAST(sum(CASE WHEN ev.day = f.f THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new_user_events,
        |  CAST(sum(CASE WHEN ev.day <> f.f THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returning_events,
        |  CAST(count(DISTINCT CASE WHEN ev.day = f.f THEN ev.user_id END)
        |    AS BIGINT) AS n_new_users,
        |  CAST(count(DISTINCT CASE WHEN ev.day <> f.f THEN ev.user_id END)
        |    AS BIGINT) AS n_returning_users
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1""".stripMargin),

    // DAU and 28-day MAU per day — the two exact integer legs of the
    // stickiness ratio (DAU/MAU), the engagement KPI read next to
    // x_rolling_wau's weekly grain. Same in-row sequence-explode
    // idiom (bounded 28× expansion of the distinct (user, day)
    // frame); no range join, no 28-day rescans.
    CatalogEntry("x_stickiness", (s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      val dau = ud.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val mau = ud.select(col("user_id"),
          explode(expr("sequence(day, day + 27)")).as("rday"))
        .join(broadcast(days.select(col("day").as("rday"))), "rday")
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as("mau28"))
      dau.join(mau, col("day") === col("rday"))
        .select(col("day"), col("dau"), col("mau28"))
    },
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (
        |  SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |mau AS (
        |  SELECT d2.day AS rday, count(DISTINCT ud.user_id) AS mau28
        |  FROM ud JOIN days d2 ON d2.day BETWEEN ud.day AND ud.day + 27
        |  GROUP BY 1)
        |SELECT CAST(dau.day AS BIGINT) AS day, CAST(dau.dau AS BIGINT) AS dau,
        |  CAST(mau.mau28 AS BIGINT) AS mau28
        |FROM dau JOIN mau ON dau.day = mau.rday""".stripMargin),

    // Weekly-rhythm heatmap at the HOURLY grain: (epoch-day mod 7,
    // UTC hour) event counts — x_dow_profile's finer companion for
    // load shaping and batch-window placement. The hour comes from
    // pure epoch-µs arithmetic, so there are no session-timezone
    // semantics to replay in the oracle. One shuffle; ≤ 7×24 rows.
    CatalogEntry("x_hour_heatmap", (s, d) =>
      events(s, d)
        .groupBy(
          expr("datediff(to_date(ts_utc), date '1970-01-01') % 7")
            .cast(LongType).as("dow_idx"),
          expr("(unix_micros(ts_utc) div 3600000000) % 24")
            .cast(LongType).as("hour_utc"))
        .agg(count(lit(1)).as("n_events")),
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS BIGINT) AS dow_idx,
        |  CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS BIGINT)
        |    AS hour_utc,
        |  count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Activity distribution: events-per-user histogram — the state-
    // sizing view for every per-user stateful operator (sessionize,
    // funnels, streaming state stores). Two map-side-combined aggs.
    CatalogEntry("x_events_per_user_hist", (s, d) =>
      events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("events_per_user"))
        .groupBy(col("events_per_user"))
        .agg(count(lit(1)).as("n_users")),
      """WITH c AS (
        |  SELECT user_id, count(*) AS events_per_user
        |  FROM events GROUP BY 1)
        |SELECT CAST(events_per_user AS BIGINT) AS events_per_user,
        |  count(*) AS n_users
        |FROM c GROUP BY 1""".stripMargin),

    // Inter-event gap histogram (whole minutes, capped at 120): the
    // distribution the session-gap threshold is read off — pairs with
    // x_session_gap_sweep's closed-form counts. One per-user lag
    // window, then a bounded-bucket count.
    CatalogEntry("x_gap_hist", (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_utc"))
      val tsUs = unix_micros(col("ts_utc"))
      events(s, d)
        .select((tsUs - lag(tsUs, 1).over(byUser)).as("__gap"))
        .filter(col("__gap").isNotNull)
        .select(least(expr("__gap div 60000000"), lit(120L)).as("gap_minutes"))
        .groupBy(col("gap_minutes")).agg(count(lit(1)).as("n_gaps"))
    },
      """WITH g AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) -
        |    lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |      OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events)
        |SELECT CAST(least(gap // 60000000, 120) AS BIGINT) AS gap_minutes,
        |  count(*) AS n_gaps
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // Top weekly movers: the 10 largest week-over-week count swings
    // across event types (|delta| desc, ties by type/week) — the
    // anomaly shortlist over x_weekly_deltas' full series. TakeOrdered
    // top-k, never a global sort.
    CatalogEntry("x_top_movers", (s, d) => {
      val week = expr("datediff(to_date(ts_utc), date '1970-01-01') div 7")
      val weekly = events(s, d)
        .groupBy(col("event_type"), week.cast(LongType).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .withColumn("delta", col("n") - lag(col("n"), 1).over(w))
        .filter(col("delta").isNotNull)
        .select(col("event_type"), col("week"), col("delta"))
        .orderBy(abs(col("delta")).desc, col("event_type").asc, col("week").asc)
        .limit(10)
    },
      """WITH w AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, CAST(week AS BIGINT) AS week,
        |    n - lag(n) OVER (PARTITION BY event_type ORDER BY week) AS delta
        |  FROM w)
        |SELECT event_type, week, CAST(delta AS BIGINT) AS delta
        |FROM d WHERE delta IS NOT NULL
        |ORDER BY abs(delta) DESC, event_type ASC, week ASC
        |LIMIT 10""".stripMargin),

    // Event-type co-occurrence (market-basket affinity): users doing
    // BOTH type A and B, per unordered pair — per-user type sets are
    // bounded by the event-type vocabulary, so the in-row pair
    // expansion is constant-sized and the only shuffles are the
    // distinct and the final count.
    CatalogEntry("x_type_affinity", (s, d) => {
      val sets = events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id"))
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      sets.select(explode(expr(
          "flatten(transform(ts, (a, i) -> transform(slice(ts, i + 2, size(ts)), b -> struct(a AS type_a, b AS type_b))))")).as("p"))
        .select(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_users"))
    },
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_users
        |FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin),

    // 7-day rolling value sum per event type over the daily series —
    // a RANGE-framed window (gaps in the calendar shorten the frame,
    // unlike a rows frame), exact through DECIMAL, over the bounded
    // (type, day) aggregate.
    CatalogEntry("x_rolling_value_7d", (s, d) => {
      val daily = events(s, d)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .agg(sum(dec(col("value"))).as("__s"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("event_type"), col("day"),
        dec(sum(col("__s")).over(w)).cast(DoubleType).as("sum_7d"))
    },
      // RANGE frame over integer days; DECIMAL window sum both engines
      """WITH dsum AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
        |    sum(CAST(value AS DECIMAL(18,2))) AS s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |  CAST(CAST(sum(s) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2))
        |    AS DOUBLE) AS sum_7d
        |FROM dsum""".stripMargin),

    // Longest consecutive-day activity streak per user → histogram:
    // the gaps-and-islands pattern (island id = day − row_number per
    // user, a per-user window over DISTINCT days), then two counts.
    CatalogEntry("x_streak_hist", (s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr("datediff(to_date(ts_utc), date '1970-01-01')")
            .cast(LongType).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      ud.withColumn("__island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("__island"))
        .agg(count(lit(1)).as("__len"))
        .groupBy(col("user_id")).agg(max(col("__len")).as("max_streak"))
        .groupBy(col("max_streak")).agg(count(lit(1)).as("n_users"))
    },
      // gaps-and-islands: island id = day - row_number over distinct days
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS island
        |  FROM ud),
        |st AS (SELECT user_id, island, count(*) AS len
        |       FROM isl GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(len) AS max_streak FROM st GROUP BY 1)
        |SELECT CAST(max_streak AS BIGINT) AS max_streak, count(*) AS n_users
        |FROM mx GROUP BY 1""".stripMargin),

    // Monetary weekly rhythm: decimal value sums per (epoch-day mod
    // 7, type) — the revenue-weighted companion to x_dow_profile's
    // count view (traffic and value peak on different days when
    // purchase behavior is weekend-skewed). Null/NaN measurements
    // drop explicitly; DECIMAL routing keeps the sum order-free.
    CatalogEntry("x_value_by_dow", (s, d) =>
      events(s, d)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(
          expr("datediff(to_date(ts_utc), date '1970-01-01') % 7")
            .cast(LongType).as("dow_idx"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          dec(sum(dec(col("value")))).cast(DoubleType).as("sum_value")),
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS BIGINT) AS dow_idx,
        |  event_type, count(*) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS DOUBLE) AS sum_value
        |FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1, 2""".stripMargin),

    // Discount-band effect: line count, quantity, and revenue per
    // discount level — the elasticity read (does a deeper discount
    // move more units?). 11 distinct discount values → an 11-row
    // agg; all money stays in DECIMAL until emission.
    CatalogEntry("x_discount_effect", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_discount"))
        .agg(count(lit(1)).as("n_lines"),
          dec(sum(dec(col("l_quantity")))).cast(DoubleType).as("sum_qty"),
          dec4(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
            .cast(DoubleType).as("revenue")),
      """SELECT l_discount, count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1""".stripMargin),

    // Day-of-week seasonality profile: (epoch-day mod 7, type) event
    // and distinct-user counts — the weekly-rhythm view next to
    // x_weekly_deltas' trend view. dow_idx 0 = Thursday (1970-01-01).
    // One shuffle on the grouping key; integers only.
    CatalogEntry("x_dow_profile", (s, d) =>
      events(s, d)
        .groupBy(
          expr("datediff(to_date(ts_utc), date '1970-01-01') % 7")
            .cast(LongType).as("dow_idx"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users")),
      """SELECT
        |  CAST(datediff('day', DATE '1970-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS BIGINT) AS dow_idx,
        |  event_type, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Two-sample KS drift, early-vs-late halves of the event stream
    // (split at the epoch-µs midpoint), per event_type — on a FIXED
    // 1/16-unit dyadic grid: value is a continuous double, so the
    // exact ECDF's per-type window input would equal the type's
    // distinct-value count (≈ row count — a per-type single-task sort
    // at scale, the r12 verdict's one flagged shape). Quantizing
    // bounds the window input at range·16 ≤ 8 976 CELLS per type at
    // any corpus size, and bounds true D within one cell's mass.
    // ks_num stays the exact integer numerator (D = ks_num/(n_a·n_b))
    // — floor yields longs, no float division, hash-stable. The
    // midpoint is a 1-row broadcast.
    CatalogEntry("x_ks_drift", (s, d) => {
      val ev = events(s, d)
      val mid = ev.agg(
        expr("(min(unix_micros(ts_utc)) + max(unix_micros(ts_utc))) div 2")
          .as("__mid"))
      val tagged = ev.crossJoin(broadcast(mid))
        .withColumn("__s",
          (unix_micros(col("ts_utc")) >= col("__mid")).cast(IntegerType))
      Drift.ksStatisticOnGrid(tagged, "event_type", "value", "__s",
        cellsPerUnit = 16)
    },
      // exact integer KS numerator on the 1/16 dyadic grid: same
      // midpoint split; value*16.0 is an exact dyadic scaling in IEEE
      // doubles, so floor + BIGINT cast lands every row in the same
      // cell as Spark's LongType floor. RANGE vs ROWS frames agree
      // because the window runs over per-(type,cell) DISTINCT rows
      """WITH m AS (
        |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP))) +
        |          max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |e AS (
        |  SELECT event_type, CAST(floor(value * 16.0) AS BIGINT) AS cell,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= (SELECT mid FROM m)
        |      THEN 1 ELSE 0 END AS s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |c AS (
        |  SELECT event_type, cell,
        |    sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM e GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type,
        |    sum(c0) OVER (PARTITION BY event_type ORDER BY cell) AS f0,
        |    sum(c1) OVER (PARTITION BY event_type ORDER BY cell) AS f1
        |  FROM c),
        |tot AS (SELECT event_type, sum(c0) AS n_a, sum(c1) AS n_b
        |        FROM c GROUP BY 1)
        |SELECT t.event_type, CAST(t.n_a AS BIGINT) AS n_a,
        |  CAST(t.n_b AS BIGINT) AS n_b,
        |  CAST(max(abs(f0 * t.n_b - f1 * t.n_a)) AS BIGINT) AS ks_num
        |FROM cum JOIN tot t USING (event_type)
        |GROUP BY t.event_type, t.n_a, t.n_b""".stripMargin),

    // Binned drift contingency table — the 100 TB-scale drift path
    // next to x_ks_drift's exact-ECDF view: per (type, corpus-decile
    // bin) early/late counts, edges from the histogram-narrowing
    // exact-quantile selector compiled into ONE codegen'd comparison
    // chain (no join, no window; PSI/chi² are driver arithmetic over
    // these integers).
    CatalogEntry("x_bin_drift", (s, d) => {
      val ev = events(s, d)
      val mid = ev.agg(
        expr("(min(unix_micros(ts_utc)) + max(unix_micros(ts_utc))) div 2")
          .as("__mid"))
      val tagged = ev.crossJoin(broadcast(mid))
        .withColumn("__s",
          (unix_micros(col("ts_utc")) >= col("__mid")).cast(IntegerType))
      Drift.binnedDriftCounts(tagged, "event_type", "value", "__s")
    },
      // decile edges via the same CAST-to-DOUBLE rank arithmetic the
      // engine uses (ceil(q*n) in IEEE — never DuckDB DECIMAL literals,
      // whose exact products can flip a boundary rank); one edge row
      // per q, duplicates preserved
      """WITH m AS (
        |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP))) +
        |          max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |v AS (
        |  SELECT event_type, value,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= (SELECT mid FROM m)
        |      THEN 1 ELSE 0 END AS s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |o AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |e AS (
        |  SELECT o.value AS b
        |  FROM o, n,
        |    (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q) qq
        |  WHERE o.rn = greatest(1,
        |    CAST(ceil(CAST(qq.q AS DOUBLE) * n.n) AS BIGINT)))
        |SELECT event_type,
        |  CAST((SELECT count(*) FROM e WHERE e.b < v.value) AS BIGINT) AS bin,
        |  CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |FROM v GROUP BY 1, 2""".stripMargin),

    // First-touch attribution: each user's FIRST event type (algebraic
    // min-struct, map-side combined) crossed with the funnel's
    // conversion flag — users absent from the funnel count as 0.
    CatalogEntry("x_first_touch", (s, d) => {
      val ev = events(s, d)
      val first = ev.groupBy(col("user_id"))
        .agg(min(struct(col("ts_utc"), col("event_id"), col("event_type")))
          .as("f"))
        .select(col("user_id"), col("f.event_type").as("first_type"))
      val conv = graft.operators.EventFeatures.funnel(ev, "ts_utc", "user_id",
          "event_type", Seq("view", "click", "purchase"), 86400000000L)
        .select(col("user_id"), col("converted"))
      first.join(conv, Seq("user_id"), "left")
        .na.fill(0, Seq("converted"))
        .groupBy(col("first_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("converted")).cast(LongType).as("n_converted"))
    },
      // the funnel CTEs for the conversion flag + a rank-1 first event
      // per user; non-funnel users contribute converted = 0
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |conv AS (
        |  SELECT s1.user_id,
        |    CAST(t3 IS NOT NULL AND epoch_us(t3) - epoch_us(t1) <= 86400000000
        |      AS INTEGER) AS converted
        |  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)),
        |f AS (
        |  SELECT user_id, event_type AS first_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |SELECT first_type, count(*) AS n_users,
        |  CAST(sum(coalesce(conv.converted, 0)) AS BIGINT) AS n_converted
        |FROM f LEFT JOIN conv USING (user_id) GROUP BY first_type""".stripMargin),

    // Robust (median/MAD) outliers — A5's z-score with a 50% breakdown
    // point: exact medians from the narrowing selector, then a
    // shuffle-free flag against driver constants.
    CatalogEntry("x_mad_outliers", (s, d) =>
      graft.operators.Quantiles.madOutliers(events(s, d), "value", k = 3.0)
        .select(col("event_id"), col("value")),
      // med and MAD via the exact rank formula; threshold arithmetic
      // mirrors the engine's left-assoc k * 1.4826 * mad
      """WITH v AS (
        |  SELECT value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT count(*) AS n FROM v),
        |s AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        |med AS (SELECT s.value AS m FROM s, n
        |        WHERE s.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT))),
        |dv AS (SELECT abs(value - (SELECT m FROM med)) AS d FROM v),
        |ds AS (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM dv),
        |mad AS (SELECT ds.d AS m FROM ds, n
        |        WHERE ds.rn = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT)))
        |SELECT event_id, value FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND abs(value - (SELECT m FROM med)) >
        |      3.0 * 1.4826 * (SELECT m FROM mad)""".stripMargin),

    // Wide cross-tab: source × lang doc counts via the pivot operator
    // (explicit value list keeps the plan static; absent combos 0).
    CatalogEntry("x_pivot_counts", (s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .count()
        .na.fill(0L),
      // static CASE columns per lang — the same explicit value list the
      // engine's pivot uses
      """SELECT source,
        |  CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
        |  CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
        |  CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
        |  CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
        |  CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source""".stripMargin),

    // CUBE over (returnflag, linestatus): all four grouping levels in
    // one pass (the expand-based multi-level aggregate).
    CatalogEntry("x_cube_counts", (s, d) =>
      // widened: the Expand×4 above the exchange is the per-row cost
      widen(t(s, d, "lineitem"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          dec(sum(dec(col("l_quantity")))).cast(DoubleType).as("sum_qty")),
      // GROUP BY CUBE mirrors the expand-based engine aggregate; the
      // quantity sum routes through DECIMAL on both sides
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // A5: z-score outliers — two-pass agg + broadcast crossJoin, never an
    // unpartitioned window (SURVEY §7.3: 100 TB through one task is a
    // non-starter).
    CatalogEntry("a5_zscore_outlier", (s, d) => {
      val ev = events(s, d)
      val stats = ev.agg(
        avg(col("value")).as("m"), stddev_samp(col("value")).as("sd"))
      ev.crossJoin(broadcast(stats))
        .filter(abs((col("value") - col("m")) / col("sd")) > 3.0)
        .select(col("event_id"), col("value"))
    },
      """WITH s AS (SELECT avg(value) AS m, stddev_samp(value) AS sd FROM events)
        |SELECT event_id, value FROM events, s
        |WHERE abs((value - m) / sd) > 3.0""".stripMargin),

    // Fact-to-fact reconciliation report: per order status, how many
    // orders have NO lineitems (referential completeness — 257 gaps
    // at sf0.01) and how far the stored totals drift from totals
    // recomputed off the line items. Decimal-exact sums; one
    // orderkey-shuffle join of the pre-aggregated line totals, then a
    // |statuses|-row agg.
    CatalogEntry("x_reconcile", (s, d) => {
      // the 3-factor product has EXACTLY 6 decimal digits (2+2+2), so
      // a scale-6 cast is a pure representation change — no rounding,
      // no engine tie-mode skew (scale-4 casts diverge: DuckDB rounds
      // the shortest repr, Spark the binary value)
      val lines = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).cast(DecimalType(18, 6)))
          .cast(DecimalType(18, 6)).as("computed"))
      t(s, d, "orders")
        .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("computed").isNull, 1L).otherwise(0L)).as("n_no_lines"),
          // big money sums emit as exact scaled INTEGERS (cents /
          // micro-units): a 17-digit decimal -> DOUBLE cast differs in
          // the last ulp across engines, an integer cannot
          (dec(sum(dec(col("o_totalprice")))) * lit(100))
            .cast(LongType).as("stored_total_cents"),
          (coalesce(sum(col("computed")).cast(DecimalType(18, 6)),
            lit(0).cast(DecimalType(18, 6))) * lit(1000000))
            .cast(LongType).as("computed_total_micros"))
    },
      // pre-aggregated line totals left-joined onto orders; DECIMAL
      // routing on every money sum so the doubles hash
      """WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
        |      AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS computed
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o.o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN l.computed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_lines,
        |  CAST(CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS DECIMAL(38,2)) * 100 AS BIGINT) AS stored_total_cents,
        |  CAST(CAST(coalesce(CAST(sum(l.computed) AS DECIMAL(18,6)),
        |    CAST(0 AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT)
        |    AS computed_total_micros
        |FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderstatus""".stripMargin),

    // A6: referential integrity — broadcast anti-join vs a dim subset.
    CatalogEntry("a6_referential_integrity", (s, d) => {
      val o = t(s, d, "orders")
      val dim = t(s, d, "customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey"))
      o.join(broadcast(dim), o("o_custkey") === dim("c_custkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey <= 100)""".stripMargin),

    // Join-explosion guard: the self-join cardinality of lineitem on
    // l_partkey ESTIMATED from the key histogram alone (Σ n_k² — the
    // exact output size, no join executed), plus the skew ceiling
    // (hottest key and its row count). The pre-flight a 100 TB
    // pipeline runs before any many-to-many join it didn't design.
    CatalogEntry("x_join_explosion_est", (s, d) => {
      val per = t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"))
      per.agg(count(lit(1)).as("n_keys"),
          sum(col("n") * col("n")).as("est_self_join_rows"),
          max(struct(col("n"), (-col("l_partkey")).as("nk"))).as("m"))
        .select(col("n_keys"), col("est_self_join_rows"),
          col("m.n").as("max_rows_per_key"), (-col("m.nk")).as("top_key"))
    },
      """WITH p AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1),
        |m AS (SELECT l_partkey, n,
        |        row_number() OVER (ORDER BY n DESC, l_partkey ASC) AS rn
        |      FROM p)
        |SELECT (SELECT count(*) FROM p) AS n_keys,
        |  CAST((SELECT sum(n * n) FROM p) AS BIGINT) AS est_self_join_rows,
        |  CAST(m.n AS BIGINT) AS max_rows_per_key, m.l_partkey AS top_key
        |FROM m WHERE rn = 1""".stripMargin),

    // Account-balance quartiles per market segment — the grouped
    // exact-quantile operator exercised on a second table at three
    // simultaneous q's: ONE histogram-narrowing loop resolves all
    // (segment, quartile) brackets together (≤ B-row driver state per
    // pass; no per-segment sort anywhere — and no per-q re-scan, the
    // r14 formulation's cost: three separate selector loops over the
    // same column). All three q's are dyadic, so rank arithmetic is
    // float-exact.
    CatalogEntry("x_acctbal_quartiles", (s, d) =>
      graft.operators.Quantiles.groupedExactQuantiles(
        t(s, d, "customer"), "c_mktsegment", "c_acctbal",
        Seq(0.25, 0.5, 0.75)),
      """WITH v AS (
        |  SELECT c_mktsegment AS k, c_acctbal AS v FROM customer
        |  WHERE c_acctbal IS NOT NULL AND NOT isnan(c_acctbal)),
        |n AS (SELECT k, count(*) AS n FROM v GROUP BY 1),
        |s AS (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rn
        |      FROM v),
        |qs AS (SELECT unnest([0.25, 0.5, 0.75]) AS q)
        |SELECT s.k AS c_mktsegment, CAST(qs.q AS DOUBLE) AS q,
        |  CAST(greatest(1, CAST(ceil(CAST(qs.q AS DOUBLE) * n.n) AS BIGINT))
        |    AS BIGINT) AS rank,
        |  s.v AS value
        |FROM qs CROSS JOIN n
        |JOIN s ON s.k = n.k
        |  AND s.rn = greatest(1, CAST(ceil(CAST(qs.q AS DOUBLE) * n.n) AS BIGINT))""".stripMargin),

    // Cohort-LTV triangle: revenue by (acquisition month, months
    // since acquisition) over 30-day months — the value-weighted
    // companion to x_retention's count matrix (finance reads this
    // one). Cohort month is an algebraic min joined back; all money
    // stays DECIMAL until emission.
    CatalogEntry("x_cohort_ltv", (s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey"),
        expr("datediff(to_date(o_orderdate), date '1970-01-01') div 30")
          .cast(LongType).as("m"),
        col("o_totalprice"))
      // cohort month as a MIN window — the agg-then-join-back form
      // scanned orders twice (r18 plan audit)
      o.withColumn("cohort_month",
          min(col("m")).over(Window.partitionBy(col("o_custkey"))))
        .groupBy(col("cohort_month"),
          (col("m") - col("cohort_month")).as("age_months"))
        .agg(count(lit(1)).as("n_orders"),
          dec(sum(dec(col("o_totalprice")))).cast(DoubleType).as("revenue"))
    },
      """WITH o AS (
        |  SELECT o_custkey,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) // 30 AS m,
        |    o_totalprice
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1)
        |SELECT CAST(f.cohort_month AS BIGINT) AS cohort_month,
        |  CAST(o.m - f.cohort_month AS BIGINT) AS age_months,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
        |    AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM o JOIN f ON o.o_custkey = f.o_custkey
        |GROUP BY 1, 2""".stripMargin),

    // Repeat-purchase rate per market segment: customers, buyers
    // (≥1 order), repeaters (≥2) — the loyalty read over the
    // customer⋈orders relationship, zero-order customers included
    // via the left join. Fact collapses to per-customer counts first.
    CatalogEntry("x_repeat_rate", (s, d) => {
      val per = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n") >= 1, 1L).otherwise(0L)).as("n_buyers"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_repeat"))
    },
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CASE WHEN per.n >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_buyers,
        |  CAST(sum(CASE WHEN per.n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repeat
        |FROM customer c LEFT JOIN per ON c.c_custkey = per.o_custkey
        |GROUP BY 1""".stripMargin),

    // Skew-safe salted aggregation: two-stage count on a low-cardinality
    // (hot) key column — result identical to a plain groupBy count.
    CatalogEntry("x_salted_count", (s, d) => {
      graft.operators.Skew.saltedCount(t(s, d, "lineitem"), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("cnt"))
    },
      """SELECT l_returnflag, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Supplier part-coverage histogram: distinct parts each supplier
    // ships → supplier count per coverage level — the last
    // relationship profile of the schema (supplier↔part via the
    // fact table). countDistinct shuffles keys, never pairs.
    CatalogEntry("x_supplier_coverage", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
        .groupBy(col("n_parts")).agg(count(lit(1)).as("n_suppliers")),
      """WITH per AS (
        |  SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(n_parts AS BIGINT) AS n_parts,
        |  count(*) AS n_suppliers
        |FROM per GROUP BY 1""".stripMargin)
  )
}
