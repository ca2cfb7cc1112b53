package graft.streaming

import graft.SparkTestBase
import graft.config.XmlConfigParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Streaming parity: the same rule set over a file-source stream; the
  * windowed error-rate agg; arbitrary state via mapGroupsWithState.
  */
class StreamingSpec extends SparkTestBase {

  private lazy val cfg =
    XmlConfigParser.parseFile(getClass.getResource("/mapping_config.xml").getPath)

  private val fixtureRows =
    """2024-02-15 08:30:00,LINE001,BATCH20240215001,PROD-A1,145.5,450.2,45.5,OP0001,0
      |2024-02-15 09:15:00,LINE001,BATCH20240215004,PROD-A1,300.0,455.0,44.8,OP0003,0
      |,bad-line,BAD-BATCH,PROD-A1,145.0,450.0,50.0,OP0001,0
      |""".stripMargin

  test("file-source stream validates new CSVs and writes both sinks") {
    val inDir = tempDir("stream_in_")
    val outDir = tempDir("stream_out_")
    val ckpt = tempDir("stream_ckpt_")
    val header = fixtureHeader
    Files.writeString(inDir.resolve("batch1.csv"), header + fixtureRows)

    val sv = new StreamingValidation(cfg)
    val stream = sv.readStream(spark, inDir.toString)
    assert(stream.isStreaming)
    val q = sv.writer(stream, s"$outDir/valid", s"$outDir/errors")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val valid = spark.read.parquet(s"$outDir/valid")
    val errors = spark.read.parquet(s"$outDir/errors")
    assert(valid.count() == 1) // rows 2,3 invalid (RANGE / REQUIRED+REGEX)
    assert(errors.count() == 3)
    assert(valid.columns.contains("ValidationStatus"))

    // incremental discovery: a second file appears -> only its rows append
    Files.writeString(inDir.resolve("batch2.csv"), header +
      "2024-02-15 11:00:00,LINE002,BATCH20240215009,PROD-B2,150.0,460.0,44.0,OP0002,0\n")
    val q2 = sv.writer(stream, s"$outDir/valid", s"$outDir/errors")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$outDir/valid").count() == 2)
    assert(spark.read.parquet(s"$outDir/errors").count() == 3) // unchanged
  }

  test("windowed error-rate aggregation with watermark on a memory stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)] // (timestamp, line_id)
    val annotated = new StreamingValidation(cfg)
      .annotateStream(
        mem.toDF().toDF("timestamp", "line_id")
          .withColumn("batch_number", lit("B1"))
          .withColumn("product_code", lit("PROD-A1"))
          .withColumn("temperature_c", when(col("line_id") === "BAD", lit("999.0")).otherwise(lit("150.0")))
          .withColumn("pressure_kpa", lit("450.0"))
          .withColumn("humidity_pct", lit("50.0"))
          .withColumn("operator_id", lit("OP0001"))
          .withColumn("defect_count", lit("0")))
    val windowed = StreamingValidation
      .errorRateByWindow(annotated, "timestamp", "1 hour", "2 hours")

    val q = windowed.writeStream
      .format("memory").queryName("err_rate").outputMode("update").start()
    try {
      mem.addData(
        ("2024-02-15 08:10:00", "LINE001"),
        ("2024-02-15 08:20:00", "LINE001"),
        ("2024-02-15 08:30:00", "BAD"))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("err_rate")
      .select("line_id", "total_rows", "invalid_rows").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows("LINE001") == ((2L, 0L)))
    assert(rows("BAD") == ((1L, 1L))) // temperature 999 > max 200 -> RANGE
  }

  test("streaming dimension lookups flag the same rows as the batch path") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // register a products dim MISSING PROD-D4 — the streamed row using
    // it must gain a LOOKUP error (stream-static join, not the demo set)
    val dim = Seq("PROD-A1", "PROD-B2", "PROD-C3").toDF("ProductCode")
    val sv = new StreamingValidation(cfg,
      dimensions = Map("Production.Products" -> dim))
    val mem = MemoryStream[(String, String)] // (timestamp, product_code)
    val annotated = sv.annotateStream(
      mem.toDF().toDF("timestamp", "product_code")
        .withColumn("line_id", lit("LINE001"))
        .withColumn("batch_number", lit("B1"))
        .withColumn("temperature_c", lit("150.0"))
        .withColumn("pressure_kpa", lit("450.0"))
        .withColumn("humidity_pct", lit("50.0"))
        .withColumn("operator_id", lit("OP0001"))
        .withColumn("defect_count", lit("0")))
    val q = annotated
      .select(col("product_code"),
        col(graft.pipeline.ValidationPipeline.ErrorsCol + ".ErrorType").as("types"))
      .writeStream.format("memory").queryName("dim_lookup").outputMode("append").start()
    try {
      mem.addData(("2024-02-15 08:10:00", "PROD-A1"), ("2024-02-15 08:20:00", "PROD-D4"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dim_lookup").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(rows("PROD-A1").isEmpty)
    assert(rows("PROD-D4") == Seq("LOOKUP")) // demo set would have passed it
  }

  test("dedupStream drops within-watermark duplicates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, String)] // (ts, doc_key, payload)
    val deduped = StreamingValidation.dedupStream(
      mem.toDF().toDF("ts", "doc_key", "payload"),
      keyCols = Seq("doc_key"), timeCol = "ts", watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        ("2024-02-15 08:00:00", "K1", "first"),
        ("2024-02-15 08:05:00", "K1", "dup-same-batch"),
        ("2024-02-15 08:10:00", "K2", "other"))
      q.processAllAvailable()
      // duplicate arriving in a LATER micro-batch, still inside the
      // watermark -> state remembers K1 and drops it
      mem.addData(("2024-02-15 08:20:00", "K1", "dup-next-batch"))
      q.processAllAvailable()
      // a null event time is dropped, not crashed on
      mem.addData(("not-a-time", "K3", "bad-ts"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_dedup")
      .select("doc_key", "payload").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.count(_._1 == "K1") == 1)
    assert(rows.collect { case ("K1", p) => p }.head == "first")
    assert(rows.count(_._1 == "K2") == 1)
    assert(!rows.exists(_._1 == "K3"))
  }

  test("sessionizeStream merges sub-gap events and splits at the gap boundary") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)] // (ts, user)
    val sessions = StreamingValidation.sessionizeStream(
      mem.toDF().toDF("ts", "user"),
      keyCol = "user", timeCol = "ts", gap = "30 minutes", watermark = "10 days")
    val q = sessions.writeStream.format("memory").queryName("stream_sess")
      .outputMode("complete").start()
    try {
      mem.addData(
        ("2024-02-15 08:00:00", "u1"),
        ("2024-02-15 08:29:59", "u1"), // 29:59 gap < 30 min -> same session
        ("2024-02-15 09:00:00", "u2"))
      q.processAllAvailable()
      // sessions merge ACROSS micro-batches: 08:29:59 + 30 min spans
      // 08:45; this event extends u1's open session
      mem.addData(("2024-02-15 08:45:00", "u1"))
      q.processAllAvailable()
      // exactly at the previous session's end -> still MERGES (Spark's
      // session windows close at gap STRICTLY greater than the gap
      // duration, matching the batch x_sessionize `gap > 30min` rule)
      mem.addData(("2024-02-15 09:15:00", "u1"))
      q.processAllAvailable()
      // one second past the boundary -> a new session
      mem.addData(("2024-02-15 09:45:01", "u1"))
      q.processAllAvailable()
      // null event time dropped, not crashed on
      mem.addData(("not-a-time", "u3"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_sess")
      .select(col("user"), date_format(col("session_start"), "HH:mm:ss"),
        date_format(col("session_end"), "HH:mm:ss"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    assert(rows.toSeq == Seq(
      ("u1", "08:00:00", "09:45:00", 4L), // boundary event merged
      ("u1", "09:45:01", "10:15:01", 1L), // past-boundary event split
      ("u2", "09:00:00", "09:30:00", 1L)))
  }

  test("intervalJoinStreams pairs within the delay bound and respects key equality") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(String, Long, Long)]    // (ts, user, click_id)
    val buys = MemoryStream[(String, Long, Long)]      // (ts, user, buy_id)
    val joined = StreamingValidation.intervalJoinStreams(
      clicks.toDF().toDF("cts", "user", "click_id")
        .withColumn("cts", col("cts").cast("timestamp")),
      buys.toDF().toDF("bts", "buser", "buy_id")
        .withColumn("bts", col("bts").cast("timestamp"))
        .withColumnRenamed("buser", "user"),
      keyCols = Seq("user"), leftTimeCol = "cts", rightTimeCol = "bts",
      maxDelay = "1 hour", watermark = "10 days")
    val q = joined.writeStream.format("memory").queryName("stream_ij")
      .outputMode("append").start()
    try {
      clicks.addData(
        ("2024-02-15 08:00:00", 1L, 100L),
        ("2024-02-15 08:00:00", 2L, 200L))
      // in-bound purchase, cross-micro-batch (state buffered the click)
      buys.addData(("2024-02-15 08:59:59", 1L, 900L))
      q.processAllAvailable()
      // exactly at the bound -> included; 1s past -> excluded;
      // before the click -> excluded; right user, wrong key -> excluded
      buys.addData(
        ("2024-02-15 09:00:00", 1L, 901L),
        ("2024-02-15 09:00:01", 1L, 902L),
        ("2024-02-15 07:59:59", 1L, 903L),
        ("2024-02-15 08:30:00", 3L, 904L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_ij")
      .select("user", "click_id", "buy_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 100L, 900L), (1L, 100L, 901L)))
  }

  test("dedupStream EVICTS key state once the watermark passes it (numRowsTotal drops)") {
    // The catalog replays use a span-covering watermark (exactness);
    // this pins the PRODUCTION-delay claim instead: with a real 1-hour
    // delay, state for old keys is removed from the store once the
    // event-time watermark passes eventTime + delay — verified through
    // the state-store metrics, not scaladoc.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)] // (ts, doc_key)
    val deduped = StreamingValidation.dedupStream(
      mem.toDF().toDF("ts", "doc_key"),
      keyCols = Seq("doc_key"), timeCol = "ts", watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_evict")
      .outputMode("append").start()
    def stateRows: Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // 100 distinct keys at 08:00 -> 100 state rows
      mem.addData((0 until 100).map(i => ("2024-02-15 08:00:00", s"K$i")): _*)
      q.processAllAvailable()
      val afterLoad = stateRows
      assert(afterLoad >= 100, s"expected >=100 buffered keys, got $afterLoad")
      // an event far in the future advances the watermark past
      // 08:00 + 1h delay (watermark updates at batch end, applies to
      // the NEXT batch) ...
      mem.addData(("2024-02-15 20:00:00", "LATE1"))
      q.processAllAvailable()
      // ... so this batch runs with watermark ~19:00 and evicts the
      // 08:00 keys' state
      mem.addData(("2024-02-15 20:00:01", "LATE2"))
      q.processAllAvailable()
      val afterEviction = stateRows
      assert(afterEviction < 100,
        s"state not evicted: $afterLoad rows before, $afterEviction after watermark passed")
    } finally q.stop()
  }

  test("intervalJoinStreams EVICTS buffered rows once the watermark passes the delay bound") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(String, Long, Long)]
    val buys = MemoryStream[(String, Long, Long)]
    val joined = StreamingValidation.intervalJoinStreams(
      clicks.toDF().toDF("cts", "user", "click_id")
        .withColumn("cts", col("cts").cast("timestamp")),
      buys.toDF().toDF("bts", "buser", "buy_id")
        .withColumn("bts", col("bts").cast("timestamp"))
        .withColumnRenamed("buser", "user"),
      keyCols = Seq("user"), leftTimeCol = "cts", rightTimeCol = "bts",
      maxDelay = "1 hour", watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ij_evict")
      .outputMode("append").start()
    def stateRows: Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // 100 left rows buffered waiting for right-side matches
      clicks.addData((0 until 100).map(i => ("2024-02-15 08:00:00", i.toLong, i.toLong)): _*)
      buys.addData(("2024-02-15 08:00:00", 0L, 900L))
      q.processAllAvailable()
      val afterLoad = stateRows
      assert(afterLoad >= 100, s"expected >=100 buffered rows, got $afterLoad")
      // both watermarks jump forward: a click at 08:00 can stop waiting
      // once the right watermark passes 09:00 (time + maxDelay)
      clicks.addData(("2024-02-15 20:00:00", 9999L, 9999L))
      buys.addData(("2024-02-15 20:00:00", 9999L, 8888L))
      q.processAllAvailable()
      clicks.addData(("2024-02-15 20:00:01", 9998L, 9998L))
      buys.addData(("2024-02-15 20:00:01", 9998L, 8887L))
      q.processAllAvailable()
      val afterEviction = stateRows
      assert(afterEviction < afterLoad,
        s"join state not evicted: $afterLoad rows before, $afterEviction after")
    } finally q.stop()
  }

  test("dedupStream under a production delay: late rows drop, on-time rows still emit") {
    // The other half of the two-sided production-delay guarantee (the
    // eviction test above pins the state bound): rows arriving BEHIND
    // the event-time watermark are dropped deterministically — even for
    // a never-seen key — while rows at or ahead of it keep flowing.
    // This pair is inherently not oracle-exact (late-drop depends on
    // micro-batch boundaries no batch SQL oracle can replay), which is
    // why it lives here permanently rather than in the driver catalog —
    // see SURVEY.md §2.5 (round 10).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)] // (ts, doc_key)
    val deduped = StreamingValidation.dedupStream(
      mem.toDF().toDF("ts", "doc_key"),
      keyCols = Seq("doc_key"), timeCol = "ts", watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_late")
      .outputMode("append").start()
    try {
      mem.addData(("2024-02-15 08:00:00", "EARLY"))
      q.processAllAvailable()
      // jump the watermark forward: after this batch it sits at ~19:00
      // (max event time - 1h delay), applying from the NEXT batch on
      mem.addData(("2024-02-15 20:00:00", "MOVER"))
      q.processAllAvailable()
      mem.addData(
        ("2024-02-15 08:05:00", "LATE_NEW"), // behind the watermark: dropped
        ("2024-02-15 19:30:00", "ONTIME")) // ahead of it: emitted
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.table("dedup_late")
      .select("doc_key").collect().map(_.getString(0)).toSet
    assert(Set("EARLY", "MOVER", "ONTIME").subsetOf(keys))
    assert(!keys.contains("LATE_NEW"),
      "a row older than the watermark must be dropped, not emitted")
  }

  test("invalidAlerts fires each threshold once, several at a time when crossed together") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Boolean)]
    val alerts = StreamingValidation.invalidAlerts(
      spark, mem.toDS(), thresholds = Seq(2L, 5L))
    val q = alerts.writeStream.format("memory").queryName("stream_alerts")
      .outputMode("update").start()
    try {
      // batch 1: K1 reaches 1 invalid — below every threshold, no alert
      mem.addData(("K1", true), ("K1", false), ("K2", true))
      q.processAllAvailable()
      // batch 2: K1 jumps 1 -> 6, crossing BOTH thresholds in one batch
      mem.addData(("K1", true), ("K1", true), ("K1", true), ("K1", true), ("K1", true))
      q.processAllAvailable()
      // batch 3: K1 keeps failing — thresholds already fired, silence;
      // K2 crosses 2 now
      mem.addData(("K1", true), ("K2", true))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_alerts")
      .select("key", "threshold", "invalid").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("K1", 2L, 6L), ("K1", 5L, 6L), ("K2", 2L, 2L)))
  }

  test("runningCounts keeps per-key state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Boolean)]
    val out = StreamingValidation.runningCounts(spark, mem.toDS())
    val q = out.writeStream.format("memory").queryName("counts")
      .outputMode("update").start()
    try {
      mem.addData(("L1", false), ("L1", true), ("L2", false))
      q.processAllAvailable()
      mem.addData(("L1", false))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("counts")
      .groupBy("key").agg(max("total").as("total"), max("invalid").as("invalid"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(last("L1") == ((3L, 1L))) // state carried across batches
    assert(last("L2") == ((1L, 0L)))
  }

  test("funnelStream: chain state across batches, monotone fields, greedy caveat") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val prog = StreamingValidation.funnelStream(
      spark, mem.toDF().toDF("user_id", "t", "event_type"),
      "user_id", "t", "event_type",
      Seq("view", "click", "purchase"), windowMicros = 86400000000L)
    val q = prog.writeStream.format("memory").queryName("stream_funnel_t")
      .outputMode("update").start()
    try {
      // batch 1: user 1 views then clicks (in one batch, out of
      // iterator order — the in-handler time sort must fix it)
      mem.addData((1L, ts(2), "click"), (1L, ts(1), "view"))
      q.processAllAvailable()
      // batch 2: the purchase arrives later — chain completes ACROSS
      // batches; user 2 starts but never converts
      mem.addData((1L, ts(3), "purchase"), (2L, ts(4), "view"))
      q.processAllAvailable()
      // batch 3: user 1's EARLIER view arrives late — greedy state
      // must NOT retro-anchor (t1 stays at hour 1)
      mem.addData((1L, ts(0), "view"))
      q.processAllAvailable()
    } finally q.stop()
    def T(h: Int) = ts(h).getTime * 1000L
    val last = spark.table("stream_funnel_t")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("t1_us").as("t1"),
        org.apache.spark.sql.functions.max("t2_us").as("t2"),
        org.apache.spark.sql.functions.max("t3_us").as("t3"),
        org.apache.spark.sql.functions.max("steps_reached").as("sr"),
        org.apache.spark.sql.functions.max("converted").as("cv"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))).toMap
    assert(last(1L) == ((T(1), T(2), T(3), 3, 1)), s"user 1: ${last(1L)}")
    assert(last(2L) == ((T(4), -1L, -1L, 1, 0)), s"user 2: ${last(2L)}")
  }

  test("salted streaming state merges to the unsalted totals with a wider key space") {
    // the salted entry's merged per-flag totals must equal the
    // unsalted x_stream_counts entry's — salting may only change HOW
    // the state is spread, never what it sums to
    val unsalted = graft.SparkEntry.queries("x_stream_counts")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val salted = graft.SparkEntry.queries("x_stream_salted_counts")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(salted.keySet == unsalted.keySet)
    unsalted.foreach { case (k, (total, invalid)) =>
      val (st, si, nSalts) = salted(k)
      assert((st, si) == ((total, invalid)),
        s"merged salted counters diverge for key '$k'")
      // the stateful stage's live key space: every flag spread over all
      // 8 salts -> 24 state keys across 8 state partitions, vs the
      // unsalted entry's 3 keys (parallelism capped at key cardinality)
      assert(nSalts == 8L, s"key '$k' spread over $nSalts salts, want 8")
    }
    // 3 flags x 8 salts = 24 live state keys > the 3 natural keys:
    // the stateful stage can now use all 8 state partitions
    assert(salted.size == 3 && salted.size * 8 > salted.size)
  }

  test("x_stream_late_drops: planted outcomes match a batch replay of the watermark") {
    val got = graft.queries.Queries.queries("x_stream_late_drops")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set("f1", "f2", "f3", "f4"))

    // the staged dir the entry just built (the memo hands back the same
    // path): replay its four batches in batch Scala and compare
    // survivor counts + checksums
    val stagedDir = graft.queries.Queries.lateStream(spark, sfDir)
    assert(java.nio.file.Paths.get(stagedDir).startsWith(graft.queries.Harness.scratchRoot),
      s"staged dir $stagedDir is not under the per-JVM scratch root")
    val staged = spark.read.parquet(stagedDir)
      .select(col("src_file"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    // structural: all three plant families are non-empty at every SF
    assert(staged.exists(r => r._1 == "f2" && r._2 >= 2000000000L), "kept-plants missing")
    assert(staged.exists(r => r._1 == "f3" && r._2 >= 1000000000L && r._2 < 2000000000L),
      "late-plants missing")
    val f3Ids = staged.collect { case ("f3", id, _) => id }.toSet
    assert(staged.exists(r => r._1 == "f4" && f3Ids.contains(r._2)), "dup-plants missing")

    val delay = 48L * 3600000000L
    def prefixMax(files: Set[String]) =
      staged.filter(r => files(r._1) && r._2 < 1000000000L).map(_._3).max
    val wm = Map( // watermark in force for each batch
      "f1" -> Long.MinValue,
      "f2" -> (prefixMax(Set("f1")) - delay),
      "f3" -> (prefixMax(Set("f1", "f2")) - delay),
      "f4" -> (prefixMax(Set("f1", "f2", "f3")) - delay))
    val surv = staged.filter(r => r._3 >= wm(r._1))
    val firstArrival = surv.groupBy(_._2).map(_._2.minBy(_._1)).toSeq
    val expect = firstArrival.groupBy(_._1)
      .map { case (f, rs) => f -> ((rs.size.toLong, rs.map(_._2).sum)) }
    assert(got == expect, s"got $got\nexpect $expect")
    // the late plants were all dropped; the dup plants were all deduped
    assert(!firstArrival.exists(r => r._2 >= 1000000000L && r._2 < 2000000000L))
    assert(firstArrival.count(r => f3Ids.contains(r._2) && r._1 == "f4") == 0)
  }
}
