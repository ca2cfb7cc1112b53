package graft.streaming

import graft.config.IntegrationConfig
import graft.pipeline.ValidationPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.Row

/** Streaming face of the validation engine.
  *
  * The reference's only incremental behavior is a per-file batch loop
  * (reference src/main.py:34-55): new CSVs appear in data/raw/, each is
  * validated and loaded. Structured Streaming's file source IS that
  * loop, distributed and restartable: `readStream.csv(dir)` discovers
  * new files, the SAME compiled rule expressions annotate the stream
  * (the rule compiler is expression-level, so batch/streaming parity is
  * by construction), and `foreachBatch` writes the two sinks per
  * micro-batch into per-batch-id partitions (idempotent replay;
  * checkpointing tracks which files are consumed).
  *
  * Scale notes: the error-rate window aggregation is keyed by
  * (window, line_id) — state is bounded by the watermark; nothing
  * global. maxFilesPerTrigger bounds micro-batch size so a backlog of
  * 100k files cannot OOM a single batch.
  */
class StreamingValidation(
    config: IntegrationConfig,
    dimensions: Map[String, DataFrame] = Map.empty,
    parityMode: Boolean = true
) {
  // Global rules (windows / two-pass stats) need a bounded frame; in
  // streaming they apply per micro-batch inside foreachBatch. The
  // row-level rules stream as plain projections.
  private val pipeline = new ValidationPipeline(config, dimensions, parityMode)

  /** Open the CSV directory as a stream (same explicit raw schema as
    * batch; same `_file_source` lineage column).
    */
  def readStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .option("header", config.source.hasHeader)
      // per-file header check, same as the batch reader (a reordered
      // vendor CSV arriving in the watched dir must fail, not corrupt)
      .option("enforceSchema", value = false)
      .option("delimiter", config.source.delimiter)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(graft.config.SchemaBuilder.rawSchema(config.fieldMappings))
      .csv(dir)
      .withColumn(ValidationPipeline.FileSourceCol, input_file_name())

  /** Row-rule annotation on a streaming frame (no global rules — those
    * are per-micro-batch, see [[writer]]). Delegates to the pipeline's
    * annotateRowRules so registered-dimension lookups run as
    * stream-static joins — identical verdicts to the batch path.
    */
  def annotateStream(stream: DataFrame): DataFrame =
    pipeline.annotateRowRules(stream)

  /** foreachBatch writer running the FULL pipeline (row + global rules)
    * on each micro-batch and writing both sinks — the streaming
    * equivalent of the reference's per-file `run_etl_pipeline`.
    * Each micro-batch writes into its own `batch_id=<id>` partition
    * with overwrite, so a batch replayed after a crash-between-commit-
    * and-checkpoint replaces its own output instead of appending
    * duplicates (idempotent → effectively exactly-once; a bare append
    * would be at-least-once).
    */
  def writer(stream: DataFrame, validOut: String, errorsOut: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val annotated = pipeline.annotate(batch).persist()
      try {
        pipeline.validOutput(annotated).write.mode("overwrite")
          .parquet(s"$validOut/batch_id=$batchId")
        pipeline.errorOutput(annotated).write.mode("overwrite")
          .parquet(s"$errorsOut/batch_id=$batchId")
      } finally annotated.unpersist()
      ()
    }
}

object StreamingValidation {

  /** Streaming exact dedup on arbitrary key columns — the streaming
    * face of [[graft.operators.Dedup.exactDedup]]. State is keyed by
    * the dedup keys and BOUNDED by the watermark:
    * `dropDuplicatesWithinWatermark` drops any record whose keys were
    * seen within the watermark delay and evicts key state once the
    * event-time watermark passes it, so a high-cardinality key space
    * (content hashes of a document firehose) cannot grow state without
    * bound. Exactly-once within the watermark window; duplicates
    * farther apart than the delay are a documented recall tradeoff —
    * route the output through the batch dedup in a periodic compaction
    * for full-history guarantees.
    *
    * Rows whose `timeCol` is null or fails the timestamp cast are
    * DROPPED — a watermark-bounded operator cannot hold state for a
    * record with no event time. Validate timestamps upstream (the rule
    * engine's required/date_range rules route malformed rows to the
    * error sink) if those rows must be preserved. Needs no config, so
    * catalog queries can exercise the streaming dedup surface without
    * an XML config. The dedup GUARANTEE holds for duplicates whose
    * event times differ by less than `watermark`; choose a delay
    * covering the whole replayed span when using this for bounded
    * verification runs.
    */
  def dedupStream(
      stream: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      watermark: String = "1 hour"
  ): DataFrame =
    stream
      .withColumn("__event_time", col(timeCol).cast("timestamp"))
      .filter(col("__event_time").isNotNull)
      .withWatermark("__event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols)
      .drop("__event_time")

  /** Windowed error-rate summary over the annotated stream: per
    * (event-time window, line) row/error counts with a watermark to
    * bound state — the streaming analogue of the reference's
    * processing summary (src/etl_processor.py:148-157).
    *
    * Rows with a null/uncastable `timeCol` cannot be assigned to any
    * event-time window and are excluded from these counts (they still
    * flow to the error SINK via the writer — this summary is windowed
    * observability, not the system of record for bad rows). Needs no
    * config — only the `errors` column any annotated frame carries — so
    * catalog queries can exercise the streaming surface without an XML
    * config.
    */
  def errorRateByWindow(
      annotated: DataFrame,
      timeCol: String,
      windowLen: String = "1 hour",
      watermark: String = "2 hours",
      keyCol: String = "line_id"
  ): DataFrame =
    annotated
      .withColumn("__event_time", col(timeCol).cast("timestamp"))
      .filter(col("__event_time").isNotNull)
      .withWatermark("__event_time", watermark)
      .groupBy(window(col("__event_time"), windowLen), col(keyCol))
      .agg(
        count(lit(1)).as("total_rows"),
        sum(when(size(col(ValidationPipeline.ErrorsCol)) > 0, 1L).otherwise(0L))
          .as("invalid_rows"),
        sum(size(col(ValidationPipeline.ErrorsCol)).cast("long")).as("error_count"))

  /** Event-time sessionization on a stream: per-key `session_window`
    * aggregation — an event merges into the open session while its time
    * is at most the session end (last event + `gap`); only a STRICTLY
    * larger gap starts a new session.
    * The streaming face of the batch gaps-and-islands sessionizer
    * (`x_sessionize`), with two scale properties the batch window
    * doesn't need: state is keyed by (key, open session) only — Spark
    * merges sessions inside each micro-batch before touching the state
    * store — and the watermark closes sessions whose end falls behind
    * it, so an unbounded stream of high-cardinality keys cannot grow
    * state without bound.
    *
    * Rows with a null/uncastable `timeCol` cannot join any session and
    * are dropped (same contract as [[dedupStream]]). For bounded
    * verification replays, a span-covering watermark makes the output
    * the EXACT session set — micro-batch-partitioning-independent,
    * hence oracle-checkable; production tails use a real delay with
    * append mode.
    */
  def sessionizeStream(
      stream: DataFrame,
      keyCol: String,
      timeCol: String,
      gap: String = "30 minutes",
      watermark: String = "1 hour"
  ): DataFrame =
    stream
      .withColumn("__event_time", col(timeCol).cast("timestamp"))
      .filter(col("__event_time").isNotNull)
      .withWatermark("__event_time", watermark)
      .groupBy(session_window(col("__event_time"), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-stream interval inner join — the streaming face of the
    * batch [[graft.operators.TemporalJoins.intervalJoin]]: pair each
    * left event with the right events of the same key whose event time
    * falls in [left time, left time + `maxDelay`] (click→purchase
    * attribution, request→response matching, sensor correlation).
    *
    * Both sides carry a watermark and the join condition bounds the
    * two event times against each other — exactly what Spark's
    * stream-stream join needs to EVICT state: a buffered left row can
    * stop waiting once the right watermark passes its time + maxDelay,
    * and vice versa, so state is bounded by delay × arrival rate, not
    * stream length. Without the time bound the state store grows
    * forever; this operator makes the bound impossible to forget.
    *
    * Column names (minus `keyCols`) must be disjoint across the sides
    * — pre-rename as the call sites do. Null event times are dropped
    * (they can never satisfy the range). For bounded verification
    * replays a span-covering watermark makes the output the exact pair
    * set, so the plain batch interval-join SQL is a valid oracle;
    * production uses a real delay (inner stream-stream joins emit on
    * append as matches become final).
    */
  def intervalJoinStreams(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      maxDelay: String,
      watermark: String
  ): DataFrame = {
    val l = left
      .filter(col(leftTimeCol).isNotNull)
      .withWatermark(leftTimeCol, watermark)
    val r = right
      .filter(col(rightTimeCol).isNotNull)
      .withWatermark(rightTimeCol, watermark)
    val keyEq = keyCols.map(k => l(k) === r(k)).reduce(_ && _)
    val range = r(rightTimeCol) >= l(leftTimeCol) &&
      r(rightTimeCol) <= l(leftTimeCol) + expr(s"INTERVAL $maxDelay")
    keyCols.foldLeft(l.join(r, keyEq && range, "inner"))((df, k) => df.drop(r(k)))
  }

  /** Per-key running validation state for [[sessionizedCounts]]. */
  case class LineState(total: Long, invalid: Long)
  case class LineUpdate(key: String, total: Long, invalid: Long)

  /** Arbitrary-stateful streaming: running per-line valid/invalid
    * counters via mapGroupsWithState — the KeyValueGroupedDataset
    * custom-state surface on top of the annotated stream. Input rows
    * are (key, isInvalid). `timeout=Some(d)` evicts idle keys after d
    * (processing-time) so state stays bounded on a high-cardinality
    * key space; note a processing-time timeout makes the query
    * self-triggering (micro-batches fire with no new data).
    */
  def runningCounts(
      spark: SparkSession,
      keyed: org.apache.spark.sql.Dataset[(String, Boolean)],
      timeout: Option[String] = None
  ): org.apache.spark.sql.Dataset[LineUpdate] = {
    import spark.implicits._
    val conf =
      if (timeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(_._1)
      .mapGroupsWithState(conf) {
        (key: String, rows: Iterator[(String, Boolean)], state: GroupState[LineState]) =>
          if (state.hasTimedOut) {
            val s = state.getOption.getOrElse(LineState(0, 0))
            state.remove()
            LineUpdate(key, s.total, s.invalid)
          } else {
            val prev = state.getOption.getOrElse(LineState(0, 0))
            var total = prev.total
            var invalid = prev.invalid
            rows.foreach { case (_, isInvalid) =>
              total += 1
              if (isInvalid) invalid += 1
            }
            state.update(LineState(total, invalid))
            timeout.foreach(state.setTimeoutDuration)
            LineUpdate(key, total, invalid)
          }
      }
  }

  /** One alert row per (key, threshold) the moment the key's running
    * invalid count crosses it. */
  case class ThresholdAlert(key: String, threshold: Long, invalid: Long)

  /** Threshold alerting via flatMapGroupsWithState — the 0..n-outputs
    * -per-group stateful surface ([[runningCounts]]' mapGroupsWithState
    * emits exactly one row per key per batch; alerting needs ZERO rows
    * on quiet batches and SEVERAL when one batch blows through several
    * thresholds at once). State per key is two longs (running invalid
    * count + highest threshold already fired), so the state store is
    * bounded by the key space regardless of stream length, and each
    * threshold fires exactly once per key — an idempotent alert stream
    * safe to fan out to a dashboard sink in Update mode.
    */
  def invalidAlerts(
      spark: SparkSession,
      keyed: org.apache.spark.sql.Dataset[(String, Boolean)],
      thresholds: Seq[Long]
  ): org.apache.spark.sql.Dataset[ThresholdAlert] = {
    import spark.implicits._
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      s"thresholds must be non-empty and ascending, got $thresholds")
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Boolean)], state: GroupState[LineState]) =>
          val prev = state.getOption.getOrElse(LineState(0, 0))
          var invalid = prev.invalid
          var total = prev.total
          rows.foreach { case (_, isInvalid) =>
            total += 1
            if (isInvalid) invalid += 1
          }
          state.update(LineState(total, invalid))
          // fire every threshold in (prev.invalid, invalid] exactly once
          thresholds.iterator
            .filter(t => t > prev.invalid && t <= invalid)
            .map(t => ThresholdAlert(key, t, invalid))
      }
  }

  /** Per-key funnel progress row: chain times in epoch-µs (−1 = step
    * not reached), matching the batch funnel's sentinel contract. */
  case class FunnelProgress(user_id: Long, t1_us: Long, t2_us: Long,
    t3_us: Long, steps_reached: Int, converted: Int)

  /** STREAMING funnel — the live counterpart of
    * [[graft.operators.EventFeatures.funnel]] for a 3-step chain:
    * per-key greedy-earliest strict progression tracked in
    * flatMapGroupsWithState, one progress row emitted per key per
    * batch that touches it. State per key is three epoch-µs longs, so
    * the store is bounded by the key space regardless of stream
    * length; every state field is monotone (−1 → set-once, counts only
    * grow), so a final `max` per key over an Update-mode sink yields
    * the verdict frame.
    *
    * Exactness contract: each batch's events are folded IN TIME ORDER
    * (sorted inside the group handler), which reproduces the batch
    * min-time chain exactly when a key's events arrive time-ordered
    * ACROSS batches (bounded replays, log-shipped sources) — the same
    * replay-exactness contract the sessionize/join streams document.
    * A step-0 event arriving in a LATER batch than an already-anchored
    * later time cannot retro-anchor the chain — greedy state is the
    * inherent streaming trade, documented rather than hidden.
    */
  def funnelStream(
      spark: SparkSession,
      stream: DataFrame,
      keyCol: String, timeCol: String, typeCol: String,
      steps: Seq[String], windowMicros: Long
  ): org.apache.spark.sql.Dataset[FunnelProgress] = {
    import spark.implicits._
    require(steps.size == 3, s"funnelStream tracks 3-step chains, got $steps")
    require(steps.distinct.size == 3, s"steps must be distinct, got $steps")
    require(windowMicros > 0, s"windowMicros must be positive, got $windowMicros")
    val typed = stream
      .select(col(keyCol).cast(org.apache.spark.sql.types.LongType).as("k"),
        unix_micros(col(timeCol).cast("timestamp")).as("t"),
        col(typeCol).cast(org.apache.spark.sql.types.StringType).as("ty"))
      .filter(col("t").isNotNull && col("ty").isin(steps: _*))
      .as[(Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, String)],
         state: GroupState[(Long, Long, Long)]) =>
          var (t1, t2, t3) = state.getOption.getOrElse((-1L, -1L, -1L))
          // ascending-time fold == the batch min-time chain
          rows.toArray.sortBy(_._2).foreach { case (_, t, ty) =>
            val i = steps.indexOf(ty)
            if (i == 0 && t1 == -1L) t1 = t
            else if (i == 1 && t2 == -1L && t1 != -1L && t > t1) t2 = t
            else if (i == 2 && t3 == -1L && t2 != -1L && t > t2) t3 = t
          }
          state.update((t1, t2, t3))
          val reached = 1 + (if (t2 != -1L) 1 else 0) + (if (t3 != -1L) 1 else 0)
          val converted = if (t3 != -1L && t3 - t1 <= windowMicros) 1 else 0
          if (t1 == -1L) Iterator.empty // key never started the funnel
          else Iterator.single(FunnelProgress(key, t1, t2, t3, reached, converted))
      }
  }
}
