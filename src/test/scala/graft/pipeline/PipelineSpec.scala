package graft.pipeline

import graft.SparkTestBase
import graft.config.XmlConfigParser
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end parity with the reference on its engineered 9-row fixture
  * (golden expectations in /root/repo/FIXTURES.md §2), plus the
  * full-rules mode that implements the declared-only rules.
  */
class PipelineSpec extends SparkTestBase {

  private lazy val cfg =
    XmlConfigParser.parseFile(getClass.getResource("/mapping_config.xml").getPath)
  private lazy val fixtureCsv =
    getClass.getResource("/production_data_fixture.csv").getPath

  private def tmpDir(): String =
    tempDir("graft_test_").toString

  // ------------------------------------------------------------------
  // Parity mode: only the rules the reference engine actually executes
  // ------------------------------------------------------------------

  test("parity mode reproduces the reference 6/3 split with 4 error records") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    val summary = p.run(spark, fixtureCsv, s"$out/valid", s"$out/errors")
    assert(summary.total == 9)
    assert(summary.valid == 6)
    assert(summary.invalid == 3)
    assert(summary.errorCount == 4)

    val errors = spark.read.parquet(s"$out/errors")
    val types = errors.select("ErrorType").collect().map(_.getString(0)).sorted.toSeq
    assert(types == Seq("LOOKUP", "RANGE", "REGEX", "REQUIRED_FIELD_MISSING"))

    // row 3: temperature 300.0 above max
    val range = errors.filter(col("ErrorType") === "RANGE").collect()(0)
    assert(range.getAs[String]("FieldName") == "temperature_c")
    assert(range.getAs[String]("FieldValue") == "300.0")
    // row 6: INVALID-CODE lookup miss
    val lookup = errors.filter(col("ErrorType") === "LOOKUP").collect()(0)
    assert(lookup.getAs[String]("FieldValue") == "INVALID-CODE")
    // row 8: missing timestamp short-circuits; line_id regex fires
    val req = errors.filter(col("ErrorType") === "REQUIRED_FIELD_MISSING").collect()(0)
    assert(req.getAs[String]("FieldName") == "timestamp")
    val regex = errors.filter(col("ErrorType") === "REGEX").collect()(0)
    assert(regex.getAs[String]("FieldValue") == "bad-line")
  }

  test("valid sink carries renamed columns, declared types, literals") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    p.run(spark, fixtureCsv, s"$out/valid", s"$out/errors")
    val valid = spark.read.parquet(s"$out/valid")
    assert(valid.count() == 6)
    assert(valid.columns.toSeq == Seq(
      "RecordTimestamp", "ProductionLineID", "BatchNumber", "ProductCode",
      "TemperatureCelsius", "PressureKPA", "HumidityPercent", "OperatorID",
      "DefectCount", "FileSource", "ValidationStatus"))
    assert(valid.select("ValidationStatus").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("VALID"))
    assert(valid.schema("RecordTimestamp").dataType.typeName == "timestamp")
    assert(valid.schema("DefectCount").dataType.typeName == "integer")
    // optional humidity: the empty-cell row (row 4) is valid with null humidity
    assert(valid.filter(col("HumidityPercent").isNull).count() == 1)
    // lineage points at the fixture file
    assert(valid.select("FileSource").collect()
      .forall(_.getString(0).contains("production_data_fixture.csv")))
  }

  test("readCsvWithOrdinal assigns pandas-style row indexes in file order") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val df = p.readCsvWithOrdinal(spark, fixtureCsv)
    val idx = df.select("row_index", "line_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(idx.keySet == (0L until 9L).toSet)
    assert(idx(8L) == "bad-line") // last fixture row
    // the RANGE trap row (temperature 300.0) is pandas index 3
    val rangeIdx = df.filter(col("temperature_c") === "300.0")
      .select("row_index").collect()(0).getLong(0)
    assert(rangeIdx == 3L)
  }

  test("typed sinks expose Dataset[QualityRecord] / Dataset[ErrorRecord]") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val annotated = p.annotate(p.readCsv(spark, fixtureCsv))
    val typed: Seq[QualityRecord] = p.typedValidOutput(annotated).collect().toSeq
    assert(typed.size == 6)
    assert(typed.forall(_.ValidationStatus == "VALID"))
    assert(typed.map(_.ProductionLineID).forall(_.startsWith("LINE")))
    assert(typed.count(_.HumidityPercent == null) == 1)
    val errs: Seq[ErrorRecord] = p.typedErrorOutput(annotated).collect().toSeq
    assert(errs.size == 4)
    assert(errs.map(_.ErrorType).sorted ==
      Seq("LOOKUP", "RANGE", "REGEX", "REQUIRED_FIELD_MISSING"))
  }

  test("dry run computes the summary without writing sinks") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    val summary = p.run(spark, fixtureCsv, s"$out/valid", s"$out/errors", dryRun = true)
    assert(summary.valid == 6)
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/valid")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/errors")))
  }

  // ------------------------------------------------------------------
  // Full mode: declared-only rules become real operators
  // ------------------------------------------------------------------

  test("full mode: unique-daily and referential-integrity demote the trap rows") {
    import spark.implicits._
    // operators dim WITHOUT OP9999 — the reference fixture's RI trap
    val operatorsDim = Seq("OP0001", "OP0002", "OP0003", "OP0004")
      .toDF("operator_id")
    val p = new ValidationPipeline(cfg,
      dimensions = Map("Production.Operators" -> operatorsDim))
    val annotated = p.annotate(p.readCsv(spark, fixtureCsv))
      .withColumn("row_key", coalesce(col("timestamp"), lit("<null>")))

    val verdicts = annotated
      .select(col("row_key"), size(col(ValidationPipeline.ErrorsCol)).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

    // Full-rules verdicts (FIXTURES.md §2): unique-daily flags ALL
    // members of the (day, batch) group per SURVEY §2.3 A4 — rows 0 and
    // 5 — so 3 valid / 6 invalid.
    assert(verdicts("2024-02-15 08:45:00") == 0) // row 1 valid
    assert(verdicts("2024-02-15 09:00:00") == 0) // row 2 valid
    // row 0 and row 5 share batch_number on the same day -> unique-daily
    assert(verdicts("2024-02-15 08:30:00") >= 1)
    assert(verdicts("2024-02-15 09:45:00") >= 1)
    // row 7: OP9999 not in operators dim -> referential integrity
    assert(verdicts("2024-02-15 10:15:00") >= 1)
    val invalid = annotated.filter(size(col(ValidationPipeline.ErrorsCol)) > 0)
    assert(invalid.count() == 6)

    val errTypes = annotated
      .select(explode(col(ValidationPipeline.ErrorsCol)).as("e"))
      .select("e.ErrorType").collect().map(_.getString(0)).toSet
    assert(errTypes.contains("UNIQUE"))
    assert(errTypes.contains("REFERENTIAL_INTEGRITY"))
  }

  test("duplicate_check marks every member of a dup group; field_value=multiple") {
    import spark.implicits._
    // two rows sharing (timestamp, line_id, batch_number) — unlike the
    // fixture, where timestamps differ and the dup check stays silent
    val csv = tempDir("dup_").resolve("dup.csv")
    Files.writeString(csv,
      """timestamp,line_id,batch_number,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count
        |2024-02-15 08:30:00,LINE001,BATCH1,PROD-A1,145.5,450.2,45.5,OP0001,0
        |2024-02-15 08:30:00,LINE001,BATCH1,PROD-A1,146.0,451.0,46.0,OP0001,0
        |2024-02-15 09:00:00,LINE002,BATCH2,PROD-B2,160.0,480.5,42.3,OP0002,1
        |""".stripMargin)
    val p = new ValidationPipeline(cfg, parityMode = true)
    val annotated = p.annotate(p.readCsv(spark, csv.toString))
    val dups = annotated
      .select(col("batch_number"), explode(col(ValidationPipeline.ErrorsCol)).as("e"))
      .filter(col("e.ErrorType") === "DUPLICATE")
    assert(dups.count() == 2) // BOTH members, incl. the first occurrence
    assert(dups.select("e.FieldValue").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("multiple"))
    assert(dups.select("batch_number").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("BATCH1"))
  }

  test("rows already invalid keep their own errors under duplicate_check") {
    val csv = tempDir("dup2_").resolve("dup2.csv")
    Files.writeString(csv,
      """timestamp,line_id,batch_number,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count
        |2024-02-15 08:30:00,LINE001,BATCH1,PROD-A1,300.0,450.2,45.5,OP0001,0
        |2024-02-15 08:30:00,LINE001,BATCH1,PROD-A1,146.0,451.0,46.0,OP0001,0
        |""".stripMargin)
    val p = new ValidationPipeline(cfg, parityMode = true)
    val annotated = p.annotate(p.readCsv(spark, csv.toString))
    val byTemp = annotated
      .select(col("temperature_c"), col(ValidationPipeline.ErrorsCol + ".ErrorType").as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // row with a RANGE error keeps it (reference: already-invalid rows
    // don't gain the DUPLICATE entry, src/data_validator.py:215-218)
    assert(byTemp("300.0") == Seq("RANGE"))
    assert(byTemp("146.0") == Seq("DUPLICATE"))
  }

  test("header-only input yields a zero summary, not a crash") {
    val csv = tempDir("empty_").resolve("empty.csv")
    Files.writeString(csv,
      "timestamp,line_id,batch_number,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count\n")
    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    val summary = p.run(spark, csv.toString, s"$out/valid", s"$out/errors")
    assert(summary == ValidationSummary(0, 0, 0, 0))
  }

  test("unique scope=daily without a date-typed field fails fast") {
    val noDate = cfg.copy(fieldMappings = cfg.fieldMappings.map(m =>
      if (m.dataType == "datetime") m.copy(dataType = "varchar(20)") else m))
    val p = new ValidationPipeline(noDate) // full mode: unique rule active
    val e = intercept[IllegalArgumentException](
      p.annotate(p.readCsv(spark, fixtureCsv)))
    assert(e.getMessage.contains("scope=daily"))
  }

  test("zero-variance outlier column flags nothing (NaN z-score guard)") {
    val csv = tempDir("const_").resolve("const.csv")
    // identical temperatures -> stddev 0 -> z is NaN; the guard must
    // keep every row valid instead of flagging all of them
    Files.writeString(csv,
      """timestamp,line_id,batch_number,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count
        |2024-02-15 08:30:00,LINE001,B1,PROD-A1,150.0,450.2,45.5,OP0001,0
        |2024-02-15 08:45:00,LINE001,B2,PROD-A1,150.0,451.0,46.0,OP0001,0
        |2024-02-15 09:00:00,LINE002,B3,PROD-B2,150.0,480.5,42.3,OP0002,1
        |""".stripMargin)
    val p = new ValidationPipeline(cfg) // full mode: outlier rule active
    val annotated = p.annotate(p.readCsv(spark, csv.toString))
    val outliers = annotated
      .select(explode(col(ValidationPipeline.ErrorsCol)).as("e"))
      .filter(col("e.ErrorType") === "OUTLIER")
    assert(outliers.count() == 0)
  }

  test("two lookup fields against the same dimension table both resolve") {
    import spark.implicits._
    // both product_code and line_id declare a lookup on the same table;
    // flags are keyed (table, field) so the joins stay unambiguous
    val twoLookups = cfg.copy(fieldMappings = cfg.fieldMappings.map { m =>
      if (m.sourceField == "line_id")
        m.copy(validations = m.validations :+ graft.config.ValidationRule(
          "lookup", Map("table" -> "Production.Codes", "column" -> "code")))
      else if (m.sourceField == "product_code")
        m.copy(validations = m.validations.map(v =>
          if (v.ruleType == "lookup")
            v.copy(parameters = Map("table" -> "Production.Codes", "column" -> "code"))
          else v))
      else m
    })
    // dim declares (label, code): the rule's column attribute must win
    // over the first column
    val dim = Seq(("x", "LINE001"), ("y", "LINE002"), ("z", "PROD-A1"),
      ("w", "PROD-B2"), ("v", "PROD-C3"), ("u", "PROD-D4"))
      .toDF("label", "code")
    val p = new ValidationPipeline(twoLookups,
      dimensions = Map("Production.Codes" -> dim), parityMode = true)
    val annotated = p.annotate(p.readCsv(spark, fixtureCsv))
    val lookupErrs = annotated
      .select(explode(col(ValidationPipeline.ErrorsCol)).as("e"))
      .filter(col("e.ErrorType") === "LOOKUP")
      .select("e.FieldValue").collect().map(_.getString(0)).sorted.toSeq
    // line_id misses: LINE003, LINE004 (and row 8's bad-line);
    // product_code misses: INVALID-CODE
    assert(lookupErrs.contains("INVALID-CODE"))
    assert(lookupErrs.contains("LINE003"))
    assert(lookupErrs.contains("bad-line"))
  }

  test("missing declared column fails fast at the driver") {
    import spark.implicits._
    val bad = Seq(("2024-01-01", "LINE001")).toDF("timestamp", "line_id")
    val p = new ValidationPipeline(cfg)
    val e = intercept[IllegalArgumentException](p.annotate(bad))
    assert(e.getMessage.contains("batch_number"))
  }

  test("error sink truncates FieldValue to 255 chars") {
    import spark.implicits._
    val longVal = "x" * 400
    val csv = tempDir("trunc_").resolve("trunc.csv")
    Files.writeString(csv,
      s"""timestamp,line_id,batch_number,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count
         |2024-02-15 08:30:00,$longVal,BATCH1,PROD-A1,145.5,450.2,45.5,OP0001,0
         |""".stripMargin)
    val p = new ValidationPipeline(cfg, parityMode = true)
    val errors = p.errorOutput(p.annotate(p.readCsv(spark, csv.toString)))
    val vals = errors.filter(col("FieldName") === "line_id")
      .select("FieldValue").collect().map(_.getString(0))
    assert(vals.nonEmpty)
    assert(vals.forall(_.length <= 255))
  }

  test("processing summary runs through the SQL surface over the valid sink") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    p.run(spark, fixtureCsv, s"$out/valid", s"$out/errors")
    val summary = p.processingSummary(
      spark, spark.read.parquet(s"$out/valid"), days = 10000)
    val rows = summary.collect()
    assert(rows.nonEmpty)
    assert(summary.columns.toSeq == Seq("ProcessDate", "ValidationStatus", "RecordCount"))
    assert(rows.map(_.getAs[Long]("RecordCount")).sum == 6) // all valid rows
    assert(rows.forall(_.getAs[String]("ValidationStatus") == "VALID"))
  }

  test("ErrorHandling=abort fails the run and writes nothing") {
    val abortCfg = cfg.copy(etl = cfg.etl.copy(errorHandling = "abort"))
    val p = new ValidationPipeline(abortCfg, parityMode = true)
    val out = tmpDir()
    val e = intercept[IllegalStateException](
      p.run(spark, fixtureCsv, s"$out/valid", s"$out/errors"))
    assert(e.getMessage.contains("3 invalid rows"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/valid")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/errors")))
  }

  test("glob source reads many files in one scan with per-file lineage") {
    val dir = tempDir("glob_")
    val header = fixtureHeader
    Files.writeString(dir.resolve("production_a.csv"), header +
      "2024-02-15 08:30:00,LINE001,B1,PROD-A1,145.5,450.2,45.5,OP0001,0\n")
    Files.writeString(dir.resolve("production_b.csv"), header +
      "2024-02-15 09:30:00,LINE002,B2,PROD-B2,150.0,460.0,44.0,OP0002,0\n")
    val p = new ValidationPipeline(cfg, parityMode = true)
    val df = p.readCsv(spark, s"$dir/production_*.csv")
    val lineage = df.select(col(ValidationPipeline.FileSourceCol)).distinct()
      .collect().map(_.getString(0)).sorted
    assert(lineage.length == 2)
    assert(lineage(0).endsWith("production_a.csv"))
    assert(lineage(1).endsWith("production_b.csv"))
    assert(df.count() == 2)
  }

  test("glob with a column-reordered CSV fails loudly, not silently mis-assigned") {
    // the reference validates columns per file (src/data_validator.py:96-104);
    // with enforceSchema=false Spark's header checker does the same — without
    // it a reordered vendor CSV in a glob is silently read positionally
    val dir = tempDir("reorder_")
    val good = fixtureHeader +
      "2024-02-15 08:30:00,LINE001,B1,PROD-A1,145.5,450.2,45.5,OP0001,0\n"
    // line_id and batch_number swapped — same column SET, wrong ORDER
    val reordered = "timestamp,batch_number,line_id,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count\n" +
      "2024-02-15 09:30:00,B2,LINE002,PROD-B2,150.0,460.0,44.0,OP0002,0\n"
    Files.writeString(dir.resolve("vendor_a.csv"), good)
    Files.writeString(dir.resolve("vendor_b.csv"), reordered)
    val p = new ValidationPipeline(cfg, parityMode = true)
    // the check fires against the columns a query actually reads (a bare
    // count() reads none and is exempt); the invalid-row filter depends on
    // the errors column and therefore on every declared source column
    val e = intercept[Throwable](
      p.splitInvalid(p.annotate(p.readCsv(spark, s"$dir/vendor_*.csv"))).count())
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("CSV header does not conform"), s"unexpected failure: $messages")
    assert(messages.contains("vendor_b.csv"), s"should name the offending file: $messages")
  }

  test("errorReport returns a stable, explicitly-sorted first-N preview") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val annotated = p.annotate(p.readCsv(spark, fixtureCsv))
    def report = p.errorReport(annotated, 3).collect().map(_.toSeq).toSeq
    val first = report
    // deterministic across repeated executions (no insertion-order reliance)
    assert(first == report)
    assert(first.size == 3)
    // sorted by the declared key: FieldName ascending within one file
    val fields = first.map(_(3).asInstanceOf[String])
    assert(fields == fields.sorted)
    // plans as a top-N, not a global sort of every error
    val plan = p.errorReport(annotated, 3).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("runBatch isolates a corrupt file and reports success/total") {
    val dir = tempDir("batch_")
    val header = fixtureHeader
    Files.writeString(dir.resolve("prod_a.csv"), header +
      "2024-02-15 08:30:00,LINE001,B1,PROD-A1,145.5,450.2,45.5,OP0001,0\n")
    // corrupt: column-reordered header (per-file header check rejects it)
    Files.writeString(dir.resolve("prod_b.csv"),
      "timestamp,batch_number,line_id,product_code,temperature_c,pressure_kpa,humidity_pct,operator_id,defect_count\n" +
      "2024-02-15 09:00:00,B2,LINE002,PROD-B2,150.0,460.0,44.0,OP0002,0\n")
    Files.writeString(dir.resolve("prod_c.csv"), header +
      "2024-02-15 09:30:00,LINE002,B3,PROD-B2,152.0,470.0,43.0,OP0002,1\n")

    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    val result = p.runBatch(spark, s"$dir/prod_*.csv", s"$out/valid", s"$out/errors")
    assert(result.total == 3)
    assert(result.successCount == 2)
    val failed = result.files.filter(!_.succeeded)
    assert(failed.map(_.file).forall(_.endsWith("prod_b.csv")))
    assert(failed.head.error.get.contains("header"))
    // the two good files wrote their own sink subdirectories
    assert(Files.exists(java.nio.file.Paths.get(s"$out/valid/prod_a.csv")))
    assert(Files.exists(java.nio.file.Paths.get(s"$out/valid/prod_c.csv")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/valid/prod_b.csv")))
    // per-file summaries are the single-file pipeline's numbers
    assert(result.files.find(_.file.endsWith("prod_a.csv")).get
      .summary.contains(ValidationSummary(1, 1, 0, 0)))
  }

  test("runBatch disambiguates colliding basenames from a multi-dir glob") {
    val dir = tempDir("collide_")
    val header = fixtureHeader
    Files.createDirectories(dir.resolve("vendorA"))
    Files.createDirectories(dir.resolve("vendorB"))
    Files.writeString(dir.resolve("vendorA/report.csv"), header +
      "2024-02-15 08:30:00,LINE001,B1,PROD-A1,145.5,450.2,45.5,OP0001,0\n")
    Files.writeString(dir.resolve("vendorB/report.csv"), header +
      "2024-02-15 09:30:00,LINE002,B2,PROD-B2,150.0,460.0,44.0,OP0002,0\n")
    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    val result = p.runBatch(spark, s"$dir/*/report.csv", s"$out/valid", s"$out/errors")
    assert(result.successCount == 2)
    // both files keep their own output — no silent overwrite
    assert(Files.exists(java.nio.file.Paths.get(s"$out/valid/report.csv")))
    assert(Files.exists(java.nio.file.Paths.get(s"$out/valid/report.csv_2")))
    val a = spark.read.parquet(s"$out/valid/report.csv")
      .select("ProductionLineID").collect().map(_.getString(0)).toSeq
    val b = spark.read.parquet(s"$out/valid/report.csv_2")
      .select("ProductionLineID").collect().map(_.getString(0)).toSeq
    assert((a ++ b).sorted == Seq("LINE001", "LINE002"))
  }

  test("runBatch on a pattern matching nothing returns an empty result") {
    val p = new ValidationPipeline(cfg, parityMode = true)
    val out = tmpDir()
    val result = p.runBatch(spark, s"$out/nothing_*.csv", s"$out/v", s"$out/e")
    assert(result.total == 0 && result.successCount == 0)
  }

  test("archive moves the file with a timestamp prefix when enabled") {
    val dir = tempDir("arch_")
    val f = dir.resolve("input.csv")
    Files.writeString(f, "a,b\n1,2\n")
    val p = new ValidationPipeline(cfg)
    val dest = p.archive(f, dir.resolve("processed"))
    assert(dest.isDefined)
    assert(!Files.exists(f))
    assert(dest.get.getFileName.toString.matches("""\d{8}_\d{6}_input\.csv"""))
  }

  // ------------------------------------------------------------------
  // S4: JDBC sinks against embedded Derby (reference's primary load
  // path, src/etl_processor.py:53-144)
  // ------------------------------------------------------------------

  test("S4: JDBC sinks round-trip valid + error rows through embedded Derby") {
    System.setProperty("derby.stream.error.file", "target/derby.log")
    val url = "jdbc:derby:memory:graftS4;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

    // BatchSize=2 over 6 valid rows forces multiple JDBC batches, so the
    // batching path is exercised, not just a single executeBatch.
    val small = cfg.copy(etl = cfg.etl.copy(batchSize = 2))
    val p = new ValidationPipeline(small, parityMode = true)
    val annotated = p.annotate(p.readCsv(spark, fixtureCsv)).cache()
    try {
      // the reference's config-declared schema; create it up front so the
      // writer's CREATE TABLE PRODUCTION.x lands in an existing schema
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute("CREATE SCHEMA PRODUCTION")
      catch { case _: java.sql.SQLException => () } // already exists
      finally conn.close()

      p.writeJdbc(annotated, url, props)
      p.writeErrorsJdbc(annotated, url, props)

      val validBack = spark.read.jdbc(url, small.target.targetTable, props)
      val errorsBack = spark.read.jdbc(url, "Production.DataValidationErrors", props)
      assert(validBack.count() == 6)
      assert(errorsBack.count() == 4)

      // full-row fidelity: read-back set equals the sink projection
      val expectedValid = p.validOutput(annotated)
      assert(validBack.columns.sorted.toSeq == expectedValid.columns.sorted.toSeq)
      val alignedValid = validBack.select(expectedValid.columns.map(col): _*)
      assert(alignedValid.except(expectedValid).isEmpty)
      assert(expectedValid.except(alignedValid).isEmpty)
      val expectedErr = p.errorOutput(annotated)
      val alignedErr = errorsBack.select(expectedErr.columns.map(col): _*)
      assert(alignedErr.except(expectedErr).isEmpty)
      assert(expectedErr.except(alignedErr).isEmpty)

      // append semantics: a second load accumulates, reference-style
      p.writeJdbc(annotated, url, props)
      assert(spark.read.jdbc(url, small.target.targetTable, props).count() == 12)
    } finally {
      annotated.unpersist()
      // in-memory Derby db is dropped via the drop=true connection attribute,
      // which "fails" with SQLState 08006 on success
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graftS4;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }
}
