package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rolling per-key activity features over an event stream — the
  * feature-engineering step that turns raw events into per-entity
  * daily signals (activity trend, engagement windows) for downstream
  * sampling or labeling. Kept deliberately window-based: the rolling
  * aggregate is a RANGE frame over day ordinals, so gap days are
  * handled by value (a 7-day window spans calendar days, not 7
  * preceding rows — the classic rows-vs-range bug).
  */
object EventFeatures {

  /** Per (key, day) event counts plus a trailing `windowDays`-day
    * rolling sum. Output: keyCol, `day` (yyyy-MM-dd string — the
    * engine-portable date form every catalog entry uses), `n_events`,
    * `n_events_roll`.
    *
    * Plan shape: one map-side-combined groupBy on (key, day) collapses
    * the stream to |keys × active days| rows, and the RANGE window is
    * partitioned BY KEY over that collapsed frame — state bounded by
    * one key's active days, never an unpartitioned window. At 100 TB
    * the groupBy is the only corpus-scale shuffle; the window input is
    * structurally tiny (≤ keys × days).
    */
  def rollingDailyCounts(
      df: DataFrame, tsCol: String, keyCol: String, windowDays: Int
  ): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayNum = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val daily = df
      .groupBy(col(keyCol), dayNum.as("__day_num"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__day_num"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .withColumn("n_events_roll", sum(col("n_events")).over(w))
      .select(col(keyCol),
        date_format(date_add(lit("1970-01-01"), col("__day_num")), "yyyy-MM-dd")
          .as("day"),
        col("n_events"), col("n_events_roll"))
  }

  /** Per-key daily burst detection: flags each (key, day) whose event
    * count exceeds that key's own mean + `z`·stddev over its active
    * days — the per-entity anomaly screen (bot spikes, telemetry
    * bursts) that a global threshold can't express because baselines
    * differ per key. Output: keyCol, `day` (yyyy-MM-dd), `n_events`,
    * `is_anomaly` (0/1). Population stddev over ACTIVE days only;
    * keys with one active day (or a constant rate) have zero variance
    * and never flag (strict >).
    *
    * Exactness: the two-pass moments are integer sums; mean and
    * E[X²] are single IEEE divisions, variance is clamped at zero
    * (`greatest`) against rounding, and IEEE `sqrt` is correctly
    * rounded — every comparison input is bit-identical cross-engine,
    * so the 0/1 flags hash-match. The squared day count bounds the
    * integer path: safe while a key's busiest day stays under ~3·10⁹
    * events (long overflow on n²).
    *
    * Plan shape: the same map-side-combined (key, day) collapse as
    * [[rollingDailyCounts]]; per-key moments are a second, |keys|-row
    * agg on the collapsed frame, joined back key-to-key — the raw
    * event stream shuffles once, everything after is bounded by
    * |keys × active days|.
    */
  def dailyAnomalies(
      df: DataFrame, tsCol: String, keyCol: String, z: Double = 2.0
  ): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val dayNum = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val daily = df
      .groupBy(col(keyCol), dayNum.as("__day_num"))
      .agg(count(lit(1)).as("n_events"))
    val stats = daily.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_days"),
      sum(col("n_events")).as("s1"),
      sum(col("n_events") * col("n_events")).as("s2"))
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val mean = col("s1").cast(DoubleType) / col("n_days").cast(DoubleType)
    val meanSq = col("s2").cast(DoubleType) / col("n_days").cast(DoubleType)
    val threshold = mean + lit(z) * sqrt(greatest(lit(0.0), meanSq - mean * mean))
    daily.join(stats, keyCol)
      .select(col(keyCol),
        date_format(date_add(lit("1970-01-01"), col("__day_num")), "yyyy-MM-dd")
          .as("day"),
        col("n_events"),
        (col("n_events").cast(DoubleType) > threshold).cast(IntegerType)
          .as("is_anomaly"))
  }

  /** Sequential funnel analysis: for each key, the earliest strict
    * event chain through `steps` (step i+1 must occur strictly after
    * the key's resolved step-i time), plus whether the chain completed
    * within `windowMicros` of its first step — the conversion-funnel
    * query of product analytics, greedy-earliest semantics (each step
    * resolves to its minimum eligible timestamp; the greedy chain
    * completes whenever ANY chain completes, and ends at the earliest
    * possible finish, so the conversion flag is well-defined and
    * order-deterministic).
    *
    * Output: keyCol, `t1_us..tN_us` (epoch-µs longs, -1 where the key
    * never reached that step), `steps_reached`, `converted` (0/1).
    * Keys that never performed `steps.head` are absent.
    *
    * Plan shape: one type-filtered min-agg per step (map-side
    * combined, each ∝ that step's event volume) joined key-to-key
    * with the previous stage's |keys|-row frame — the raw stream is
    * scanned once per step but never shuffled whole; every
    * intermediate is bounded by |keys|. All comparisons are integer
    * microseconds — hash-exact.
    */
  def funnel(
      df: DataFrame, tsCol: String, keyCol: String, typeCol: String,
      steps: Seq[String], windowMicros: Long
  ): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got $steps")
    require(steps.distinct.size == steps.size, s"steps must be distinct, got $steps")
    require(windowMicros > 0, s"windowMicros must be positive, got $windowMicros")
    import org.apache.spark.sql.types.IntegerType
    // ONE type-filtered scan + stacked unbounded windows over a single
    // key partitioning. The previous per-step agg/join fold referenced
    // its accumulated frame twice per step (once inside the next
    // step's join, once in the outer left join), so the event source
    // was scanned 2^(n-1)+... times — 7 scans and 5 key exchanges for
    // the 3-step chain (r18 plan audit). Each chained minimum
    // t_{i+1} = min ts of step_{i+1} strictly after t_i is a
    // per-partition aggregate over the SAME key partitioning, so the
    // whole chain is one exchange, n window passes, and one final
    // same-key collapse — identical values by definition
    // (EventFeaturesSpec pins the greedy-earliest chain, stall
    // sentinels and the window flag).
    val part = Window.partitionBy(col(keyCol))
    val ev = df.filter(col(typeCol).isin(steps: _*))
      .select(col(keyCol), col(typeCol).as("__ty"),
        unix_micros(col(tsCol)).as("__t"))
    val chain = steps.zipWithIndex.foldLeft(ev) { case (acc, (st, i)) =>
      val cond =
        if (i == 0) col("__ty") === st
        // __t > null is null, so a stalled prior step nulls the chain
        else col("__ty") === st && col("__t") > col(s"t${i}_us")
      acc.withColumn(s"t${i + 1}_us", min(when(cond, col("__t"))).over(part))
    }
    val n = steps.size
    val reached = (2 to n).map(i => when(col(s"t${i}_us").isNotNull, 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    val tN = col(s"t${n}_us")
    chain
      .filter(col("t1_us").isNotNull) // population = keys with a step-1 event
      .groupBy(col(keyCol))
      .agg(min(col("t1_us")).as("t1_us"),
        (2 to n).map(i => min(col(s"t${i}_us")).as(s"t${i}_us")): _*)
      .select(
        col(keyCol) +:
          (1 to n).map(i => coalesce(col(s"t${i}_us"), lit(-1L)).as(s"t${i}_us")) :+
          reached.cast(IntegerType).as("steps_reached") :+
          (tN.isNotNull && tN - col("t1_us") <= windowMicros)
            .cast(IntegerType).as("converted"): _*)
  }

  /** Weekly retention cohorts: keys grouped by the epoch-week of their
    * first `cohortFilter` event (e.g. first signup), crossed with the
    * epoch-weeks they were active at all — the classic retention
    * matrix (cohort_week, week_offset, n_active, n_cohort), offsets
    * counted from the cohort week forward (activity before the cohort
    * event is excluded). Weeks are epoch-day div 7 — deterministic
    * integer arithmetic, no calendar/locale dependence; all four
    * output columns are integers, hash-exact.
    *
    * Plan shape: the cohort frame is a type-filtered min-agg
    * (|keys|-rows); activity collapses to DISTINCT (key, week) via a
    * map-side-combined aggregate BEFORE the key-to-key join (the join
    * input is |keys × active weeks|, never the raw stream); the matrix
    * agg is |cohorts × offsets|-bounded and the cohort-size join is a
    * broadcast-sized second agg of the same cohort frame.
    */
  def retentionCohorts(
      df: DataFrame, tsCol: String, keyCol: String, cohortFilter: Column
  ): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val cohorts = df.filter(cohortFilter)
      .groupBy(col(keyCol)).agg(min(day).as("__d0"))
      .select(col(keyCol), expr("__d0 div 7").cast(LongType).as("cohort_week"))
    val cohortSizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_cohort"))
    val activity = df
      .select(col(keyCol), day.as("__d"))
      .select(col(keyCol), expr("__d div 7").cast(LongType).as("__w"))
      .distinct()
    cohorts.join(activity, keyCol)
      .filter(col("__w") >= col("cohort_week"))
      .groupBy(col("cohort_week"), (col("__w") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("n_cohort"))
  }

  /** First-order event-type transition matrix: within each key, events
    * are ordered by (ts, tieBreak) and every consecutive pair of types
    * is counted — the Markov-chain view of user behavior (what follows
    * a view? how often does an error interrupt a funnel?) that powers
    * next-action models and anomalous-sequence screens. Output:
    * `from_type`, `to_type`, `n_pairs`, `n_from` (total outgoing pairs
    * from `from_type` — the row's transition probability denominator,
    * emitted as an integer so consumers divide at whatever precision
    * they need and the frame stays hash-exact).
    *
    * Plan shape: ONE shuffle of the stream on the key for the
    * per-key ordered `lead` window (the same partitioned-sort shape
    * sessionize uses — per-key state only, never an unpartitioned
    * window); the pair count is a map-side-combined agg collapsing to
    * ≤ |types|² rows, and the denominator is a second ≤ |types|-row
    * agg of THAT, broadcast back. The tie-break column must make
    * (ts, tieBreak) unique per key or `lead` is
    * nondeterministic under re-execution.
    */
  def transitionCounts(
      df: DataFrame, tsCol: String, keyCol: String, typeCol: String,
      tieBreakCol: String
  ): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieBreakCol))
    val pairs = df
      .select(col(keyCol), col(tsCol), col(tieBreakCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n_pairs")).as("n_from"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n_pairs"), col("n_from"))
  }

  /** Dyadic EWMA smoothing of the per-key weekly series — the
    * trend-extraction step (l_i = ½·x_i + ½·l_{i−1}, l_0 = x_0 over
    * each key's OBSERVED weeks in order): the smoothed level a
    * monitoring consumer compares the raw count against. α = ½ BY
    * DESIGN, same argument as [[decayedCounts]]: the closed form
    * l_i = 2^−i·x_0 + Σ_{j=1..i} 2^−(i−j+1)·x_j makes every term a
    * dyadic rational, so the sum is exact, order-independent, and
    * bit-identical to the sequential recurrence — an oracle can
    * evaluate the closed form and hash-match the engine. Output:
    * keyCol, `week`, `n`, `ewma`.
    *
    * Plan shape: the stream collapses once into |keys × weeks| rows;
    * ranks come from a key-partitioned window over that tiny frame,
    * and the closed form is a within-key rank join (j ≤ i) — cost
    * Σ|key weeks|², fine for bounded series (a year is 52²). Exactness
    * bound: weekly counts < 2^20 over ≤ 30 observed weeks stays under
    * the 53-bit mantissa.
    */
  def ewmaWeekly(
      df: DataFrame, tsCol: String, keyCol: String
  ): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val week = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val base = df.select(col(keyCol), week.as("__d"))
      .groupBy(col(keyCol), expr("__d div 7").cast(LongType).as("week"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("week"))
    val ranked = base.withColumn("__i", row_number().over(w) - 1)
    val r = ranked.select(col(keyCol), col("week"), col("n"), col("__i"))
    val j = ranked.select(col(keyCol).as("__k2"), col("n").as("__nj"),
      col("__i").as("__j"))
    r.join(j, r(keyCol) === col("__k2") && col("__j") <= col("__i"))
      .groupBy(col(keyCol), col("week"), col("n"), col("__i"))
      .agg(sum(col("__nj") *
        when(col("__j") === 0, pow(lit(0.5), col("__i")))
          .otherwise(pow(lit(0.5), col("__i") - col("__j") + 1)))
        .as("ewma"))
      .select(col(keyCol), col("week"), col("n"), col("ewma"))
  }

  /** Gap-filled time-series resample: per (key, bucket) event counts
    * over a DENSE bucket grid spanning the corpus's [min, max] bucket
    * — the resampling step every monitoring/forecast consumer needs,
    * where a groupBy alone silently omits empty buckets and a
    * downstream moving average reads gaps as missing instead of zero.
    * Buckets are `unix_micros div (bucketSeconds·10⁶)` — integer
    * epoch arithmetic, no calendar dependence. Output: keyCol,
    * `bucket` (epoch-bucket ordinal, long), `n_events` (0 for gaps).
    *
    * Plan shape: the counts agg is the stream's one map-side-combined
    * shuffle; the grid is |keys| (a distinct agg) × `sequence()` over
    * the broadcast 1-row span — output and every intermediate bounded
    * by |keys × buckets|, which is the gap-filled contract's inherent
    * size (pick `bucketSeconds` accordingly at 100 TB; a year of
    * hourly buckets is 8760 per key).
    */
  def resampleCounts(
      df: DataFrame, tsCol: String, keyCol: String, bucketSeconds: Long
  ): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    import org.apache.spark.sql.types.LongType
    val bucketUs = bucketSeconds * 1000000L
    val b = expr(s"unix_micros(`$tsCol`) div ${bucketUs}L")
    val counts = df.groupBy(col(keyCol), b.as("bucket"))
      .agg(count(lit(1)).as("__n"))
    val span = df.agg(min(b).as("__b0"), max(b).as("__b1"))
    val grid = df.select(col(keyCol)).distinct()
      .crossJoin(broadcast(span))
      .select(col(keyCol),
        explode(sequence(col("__b0"), col("__b1"))).as("bucket"))
    grid.join(counts, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket").cast(LongType).as("bucket"),
        coalesce(col("__n"), lit(0L)).as("n_events"))
  }

  /** Top-k path mining: the most common `depth`-step consecutive
    * event-type sequences across keys — the "what journeys actually
    * happen" view (funnel DISCOVERY, where [[funnel]] measures a
    * journey you already hypothesized). Paths are windows of `depth`
    * consecutive events within a key's (ts, tieBreak) order, rendered
    * `a>b>c`; output (`path`, `n_paths`) is the global top-`k` by
    * count, ties broken path-ascending so the cut is deterministic.
    *
    * Plan shape: ONE shuffle of the stream on the key feeds all
    * `depth − 1` stacked `lead` offsets (one Window node, shared
    * sort), the path agg is map-side combined and bounded by
    * |types|^depth, and the top-k is a TakeOrderedAndProject
    * (per-partition k-row heaps + one k-row driver reduce) — never a
    * global sort.
    */
  def pathCounts(
      df: DataFrame, tsCol: String, keyCol: String, typeCol: String,
      tieBreakCol: String, depth: Int = 3, k: Int = 20
  ): DataFrame = {
    require(depth >= 2, s"depth must be >= 2, got $depth")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieBreakCol))
    val steps = col(typeCol) +:
      (1 until depth).map(i => lead(col(typeCol), i).over(w))
    // Null event types are excluded up front (same contract as
    // transitionCounts): concat_ws silently SKIPS null elements, so a
    // null inside a window would otherwise render a shortened path
    // that collides with genuine shorter paths.
    df.filter(col(typeCol).isNotNull)
      .select(concat_ws(">", steps: _*).as("path"),
        steps.last.isNotNull.as("__complete"))
      .filter(col("__complete"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path").asc)
      .limit(k)
  }

  /** Half-life-decayed activity score per key — the recency-weighted
    * popularity/engagement signal (trending detection, staleness
    * ranking) where yesterday counts half of today: score =
    * Σ_days count_d · 2^−((dmax − d) div halfLifeDays), with `dmax`
    * the corpus's last active day. Output: keyCol, `n_events`,
    * `decayed_score`.
    *
    * The base is 2 BY DESIGN, not tunable convenience: every term is
    * a daily count times an exact power of two — a dyadic rational the
    * IEEE double represents exactly — so the sum is EXACT and
    * order-independent (hash-stable across partitionings and engines)
    * as long as total precision fits the 53-bit mantissa: with daily
    * counts < 2^20 and offsets spanning ≤ 30 half-lives the sum needs
    * ≤ 20+30+log₂(days) < 53 bits. An e-folding/0.9-style base would
    * make every term inexact and the sum order-dependent — the
    * round-vs-tie-break trap all over again. Coarser half-lives use
    * the integer floor-division of the day offset (staircase decay)
    * to keep exponents integral.
    *
    * Plan shape: map-side-combined (key, day) collapse — the stream's
    * one shuffle — then a |keys × active days| → |keys| agg with the
    * 1-row max-day broadcast-crossJoined. No window, no driver state.
    */
  def decayedCounts(
      df: DataFrame, tsCol: String, keyCol: String, halfLifeDays: Int = 1
  ): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1, got $halfLifeDays")
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val daily = df
      .groupBy(col(keyCol), day.as("__d"))
      .agg(count(lit(1)).as("__n"))
    val dmax = df.agg(max(day).as("__dmax"))
    daily.crossJoin(broadcast(dmax))
      .groupBy(col(keyCol))
      .agg(
        sum(col("__n")).as("n_events"),
        sum(col("__n") *
          pow(lit(0.5), expr(s"(__dmax - __d) div $halfLifeDays")))
          .as("decayed_score"))
  }

  /** RFM scoring — the classic customer-value segmentation: per key,
    * Recency (days between the key's last event and the corpus's last
    * day), Frequency (event count), Monetary (sum of `valueCol` over
    * `monetaryType` events, decimal-exact then emitted as DOUBLE), plus
    * a 1..`buckets` quantile score per axis where `buckets` is best
    * (most recent / most frequent / highest spend). Output: keyCol,
    * `r_days`, `f`, `m`, `r_score`, `f_score`, `m_score`.
    *
    * Scores are exact rank buckets — `rank * buckets div n + 1` over
    * the deterministic total order (metric, key) — NOT `ntile`:
    * `ntile` is an unpartitioned window, a single-task sort over every
    * key at scale. Instead each axis is a range-partitioned sort of
    * the |keys|-row aggregate + `zipWithIndex` (the [[Packing]]
    * numbering idiom: distributed sort, one count job, no row funnels
    * through one task). An oracle reproduces the exact same buckets
    * with `(row_number() - 1) * buckets // n + 1`.
    *
    * Plan shape: the raw stream shuffles ONCE into the per-key
    * aggregate (map-side combined); the corpus max-day is a 1-row agg
    * broadcast via crossJoin; the three score frames are sorts of a
    * locally-checkpointed |keys|-row frame (released by the
    * ContextCleaner when the result is dropped — no permanent
    * CacheManager entry) joined back key-to-key. Everything after the
    * first shuffle is ∝ |keys|, never ∝ events. Requires an integral
    * key column — validated up front rather than silently nulled.
    */
  def rfmScores(
      df: DataFrame, tsCol: String, keyCol: String, typeCol: String,
      valueCol: String, monetaryType: String, buckets: Int = 5
  ): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, IntegerType, LongType, ShortType}
    val keyType = df.schema(keyCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(keyType),
      s"rfmScores requires an integral key column; '$keyCol' is $keyType " +
        "(a non-numeric key would silently cast to null and collapse all rows)")
    val spark = df.sparkSession
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val dmax = df.agg(max(day).as("__dmax"))
    val agg = df
      .groupBy(col(keyCol).cast(LongType).as("__key"))
      .agg(
        max(day).as("__last_day"),
        count(lit(1)).as("f"),
        coalesce(
          sum(when(col(typeCol) === monetaryType,
            col(valueCol).cast(DecimalType(18, 2)))).cast(DecimalType(18, 2)),
          lit(0).cast(DecimalType(18, 2))).cast(DoubleType).as("m"))
      .crossJoin(broadcast(dmax))
      .select(col("__key"),
        (col("__dmax") - col("__last_day")).cast(LongType).as("r_days"),
        col("f"), col("m"))
      // localCheckpoint instead of Dataset.persist: the |keys|-row
      // frame is reused by three sorts + the final join, and the
      // checkpointed partitions are released by the ContextCleaner
      // once the result frame is unreferenced — Dataset.persist
      // would leak one CacheManager entry per dataset forever.
      .localCheckpoint(eager = true)
    val n = agg.count()
    if (n == 0) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(keyCol, LongType),
          org.apache.spark.sql.types.StructField("r_days", LongType),
          org.apache.spark.sql.types.StructField("f", LongType),
          org.apache.spark.sql.types.StructField("m", DoubleType),
          org.apache.spark.sql.types.StructField("r_score", LongType),
          org.apache.spark.sql.types.StructField("f_score", LongType),
          org.apache.spark.sql.types.StructField("m_score", LongType))))
    }
    // Ascending "goodness" per axis; key tie-break makes the total
    // order (and thus every bucket) deterministic.
    def rankBucket(order: Seq[Column], outName: String): DataFrame = {
      val sorted = agg
        .repartitionByRange(order: _*).sortWithinPartitions(order: _*)
        .select(col("__key"))
      spark.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, idx) =>
          org.apache.spark.sql.Row(r.getLong(0), idx * buckets / n + 1L)
        },
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__key", LongType, nullable = false),
          org.apache.spark.sql.types.StructField(outName, LongType, nullable = false))))
    }
    val r = rankBucket(Seq(col("r_days").desc, col("__key").asc), "r_score")
    val f = rankBucket(Seq(col("f").asc, col("__key").asc), "f_score")
    val m = rankBucket(Seq(col("m").asc, col("__key").asc), "m_score")
    agg.join(r, "__key").join(f, "__key").join(m, "__key")
      .select(col("__key").as(keyCol), col("r_days"), col("f"), col("m"),
        col("r_score"), col("f_score"), col("m_score"))
  }
}
