package graft.pipeline

import graft.config._
import graft.rules.RuleCompiler
import graft.rules.RuleCompiler.errorEntry
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The end-to-end validation dataflow, Spark-shaped.
  *
  * Reference lifecycle (src/etl_processor.py:182-233): read CSV → row
  * loop → global dup check → split valid/invalid → load valid + log
  * errors → archive. Here it is ONE lazy plan: scan → error-annotation
  * projection (whole-stage codegen) → window/join stages for global
  * rules → cached annotated frame → two filtered sinks. The only
  * shuffles are the ones the global rules genuinely need (a window over
  * the dup keys); everything row-level is embarrassingly parallel.
  *
  * Scale notes (100 TB design point):
  *  - duplicate_check / unique-daily: `Window.partitionBy(keys)` —
  *    shuffles once on the natural keys; no global ordering required.
  *  - z-score outlier: two-pass — tiny agg (mean/stddev) broadcast back
  *    via crossJoin, NEVER an unpartitioned window (which would funnel
  *    100 TB through one task).
  *  - referential integrity / big-dim lookups: broadcast left join adding
  *    a presence flag; dims >> memory would flip to shuffle hash join
  *    automatically once the broadcast threshold is exceeded.
  *  - the annotated frame is persisted before the two sinks so the scan
  *    + rule evaluation run once, not twice (reference computes errors
  *    exactly once, src/data_validator.py:67-89).
  */
final case class ValidationSummary(
    total: Long,
    valid: Long,
    invalid: Long,
    errorCount: Long
)

/** Outcome of one file in a [[ValidationPipeline.runBatch]] run. */
final case class FileResult(
    file: String,
    summary: Option[ValidationSummary],
    error: Option[String]
) {
  def succeeded: Boolean = summary.isDefined
}

/** Per-file batch outcome (reference main.py:44-55's
  * `success_count/total` report).
  */
final case class BatchResult(files: Seq[FileResult]) {
  def successCount: Int = files.count(_.succeeded)
  def total: Int = files.size
}

/** Typed row of the valid sink (Production.QualityData shape,
  * reference src/etl_processor.py:68-74) for `Dataset[QualityRecord]`
  * consumers.
  */
final case class QualityRecord(
    RecordTimestamp: java.sql.Timestamp,
    ProductionLineID: String,
    BatchNumber: String,
    ProductCode: String,
    TemperatureCelsius: java.math.BigDecimal,
    PressureKPA: java.math.BigDecimal,
    HumidityPercent: java.math.BigDecimal,
    OperatorID: String,
    DefectCount: java.lang.Integer,
    FileSource: String,
    ValidationStatus: String
)

/** Typed per-field error row (ValidationError,
  * reference src/data_validator.py:26-42).
  */
final case class ErrorRecord(
    FileSource: String,
    ErrorType: String,
    ErrorMessage: String,
    FieldName: String,
    FieldValue: String
)

class ValidationPipeline(
    val config: IntegrationConfig,
    /** extra lookup/RI dimension tables, keyed by table name; the lookup
      * rule's `column` attribute selects the key column (first column
      * when absent or not present in the frame) */
    val dimensions: Map[String, DataFrame] = Map.empty,
    /** parity mode = only the rules the reference engine actually runs */
    val parityMode: Boolean = false
) {
  import ValidationPipeline._

  private def include(ruleType: String): Boolean =
    !parityMode || RuleTypes.ReferenceImplementedRow.contains(ruleType)
  private def includeGlobal(ruleType: String): Boolean =
    !parityMode || RuleTypes.ReferenceImplementedGlobal.contains(ruleType)

  private val mappings = config.fieldMappings

  /** Hard schema check — all declared source columns must exist
    * (file-level failure, reference src/data_validator.py:96-104).
    */
  def validateColumns(df: DataFrame): Unit = {
    val missing = mappings.map(_.sourceField).toSet -- df.columns.toSet
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Missing required columns in input: ${missing.mkString(", ")}")
  }

  /** Read a CSV (or glob of CSVs) with the explicit all-string raw schema.
    * Globs parallelize natively — the reference's per-file loop
    * (src/main.py:45-51) becomes one multi-file scan with
    * `input_file_name()` lineage.
    *
    * `enforceSchema=false` makes Spark check EVERY file's header row
    * against the declared schema names (the reference's per-file column
    * check, src/data_validator.py:96-104). Without it Spark assigns the
    * schema positionally, so a glob containing a column-reordered vendor
    * CSV would silently mis-assign fields — a wrong answer, not an error.
    * Caveat: the checker compares only the columns a query actually
    * reads (post-pruning), so a zero-column action like a bare count()
    * is exempt — the validation pipeline reads every declared column,
    * which is the case that matters.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", config.source.hasHeader)
      .option("enforceSchema", value = false)
      .option("delimiter", config.source.delimiter)
      .schema(SchemaBuilder.rawSchema(mappings))
      .csv(path)
      .withColumn(FileSourceCol, input_file_name())

  /** Read ONE concrete CSV file with a pandas-style 0-based row ordinal
    * (SURVEY §7.3: no distributed row identity exists; a true ordinal
    * needs zipWithIndex over a deterministic scan). Parity-debugging
    * tool against the reference's per-file row_index — NOT the 100 TB
    * hot path (zipWithIndex forces an extra pass), and deliberately
    * restricted to a single regular file: the reference's index resets
    * per file, and Spark orders multi-file splits by size, so a global
    * ordinal over a glob would be silently wrong.
    */
  def readCsvWithOrdinal(spark: SparkSession, path: String): DataFrame = {
    require(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path)),
      s"readCsvWithOrdinal needs a single concrete CSV file, got: $path")
    val base = readCsv(spark, path)
    val schema = base.schema.add("row_index", LongType, nullable = false)
    val indexed = base.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ idx)
    }
    spark.createDataFrame(indexed, schema)
  }

  /** Lookup resolver: static demo set for the reference's hardcoded
    * products (src/data_validator.py:197); registered dimension frames
    * are handled via pre-joined presence flags (see annotate).
    */
  private def lookupResolver: RuleCompiler.LookupResolver = (table, column, field, value) =>
    if (dimensions.contains(table))
      Some(col(presenceFlag(s"$table:$column:$field")).isNotNull)
    else RuleCompiler.defaultLookups(table, column, field, value)

  /** Row-level annotation only: dimension presence-flag joins + the
    * compiled per-row rules, no dataset-global operators. Works on
    * BATCH and STREAMING frames alike (the joins are stream-static
    * joins in the latter case) — the streaming path calls this so
    * registered-dimension lookups behave identically in both modes.
    */
  def annotateRowRules(df: DataFrame): DataFrame = {
    validateColumns(df)

    // -- pre-join presence flags for dimension-table lookups ------------
    // flags are keyed by (table, column, field): distinct rules get
    // independent joins and columns; identical duplicates collapse
    var cur = df
    val lookupDims: Seq[(String, Option[String], String)] = (for {
      m <- mappings
      r <- m.validations
      if r.ruleType == RuleTypes.Lookup && include(r.ruleType)
      t <- r.param("table") if dimensions.contains(t)
    } yield (t, r.param("column"), m.sourceField)).distinct
    lookupDims.foreach { case (table, lookupColumn, field) =>
      val dim = dimensions(table)
      // the rule's declared lookup column resolves case-insensitively
      // (like Spark's own analyzer); a declared column that matches
      // nothing is a config error and fails fast — a silent fallback
      // would validate against the wrong column. Only an undeclared
      // column falls back to the frame's first column.
      val key = lookupColumn match {
        case Some(c) =>
          dim.columns.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"lookup column '$c' not found in dimension '$table' " +
                s"(columns: ${dim.columns.mkString(", ")})"))
        case None => dim.columns.head
      }
      val flag = presenceFlag(s"$table:${lookupColumn.getOrElse("")}:$field")
      val dimKeys = dim.select(col(key).cast(StringType).as(flag)).distinct()
      cur = cur.join(broadcast(dimKeys),
        cur(field).cast(StringType) === dimKeys(flag), "left")
    }

    val annotated = cur.withColumn(ErrorsCol,
      RuleCompiler.compileRow(mappings, lookupResolver, include))
    lookupDims.map { case (table, c, field) =>
        presenceFlag(s"$table:${c.getOrElse("")}:$field") }
      .distinct
      .foldLeft(annotated)((d, f) => d.drop(f))
  }

  /** Adds the `errors` array column (row rules + global rules). */
  def annotate(df: DataFrame): DataFrame = {
    var annotated = annotateRowRules(df)

    // -- field rules needing dataset-global context -----------------------
    // unique scope=daily (declared-only in the reference,
    // config/mapping_config.xml:27): count over (day, value) window.
    // The day axis is the first timestamp- or date-typed mapping; a
    // daily scope with no such field is a config error (a silent
    // fall-back to dataset-global uniqueness would flag legitimate
    // cross-day reuse).
    val dateAnchor = mappings.find(m =>
      SchemaBuilder.sparkType(m.dataType) == TimestampType ||
        SchemaBuilder.sparkType(m.dataType) == DateType).map(_.sourceField)
    for {
      m <- mappings
      r <- m.validations
      if r.ruleType == RuleTypes.Unique && include(r.ruleType)
    } {
      val scopeCols: Seq[Column] = r.param("scope") match {
        case Some("daily") =>
          val anchor = dateAnchor.getOrElse(throw new IllegalArgumentException(
            s"unique scope=daily on '${m.sourceField}' needs a datetime/date " +
              "field in the mapping to define the day"))
          Seq(to_date(col(anchor).cast(TimestampType)), col(m.sourceField))
        case _ => Seq(col(m.sourceField))
      }
      val cnt = count(lit(1)).over(Window.partitionBy(scopeCols: _*))
      val err = errorEntry(
        lit(m.sourceField), lit("UNIQUE"),
        concat(lit(s"${m.sourceField}='"), col(m.sourceField).cast(StringType),
          lit(s"' is not unique within scope ${r.param("scope").getOrElse("dataset")}")),
        col(m.sourceField))
      annotated = annotated.withColumn(ErrorsCol,
        when(col(m.sourceField).isNotNull && cnt > 1,
          concat(col(ErrorsCol), array(err))).otherwise(col(ErrorsCol)))
    }

    // outlier_detection method=zscore (declared-only,
    // config/mapping_config.xml:38): two-pass agg + broadcast crossJoin.
    val outlierRules = for {
      m <- mappings
      r <- m.validations
      if r.ruleType == RuleTypes.OutlierDetection && include(r.ruleType)
    } yield (m, r)
    if (outlierRules.nonEmpty) {
      val statAggs = outlierRules.flatMap { case (m, _) =>
        val d = col(m.sourceField).cast(DoubleType)
        Seq(avg(d).as(statMean(m.sourceField)),
          stddev_samp(d).as(statStd(m.sourceField)))
      }
      val stats = df.agg(statAggs.head, statAggs.tail: _*)
      annotated = annotated.crossJoin(broadcast(stats))
      outlierRules.foreach { case (m, r) =>
        val thr = r.doubleParam("threshold").getOrElse(3.0)
        val d = col(m.sourceField).cast(DoubleType)
        val sd = col(statStd(m.sourceField))
        val z = abs((d - col(statMean(m.sourceField))) / sd)
        val err = errorEntry(
          lit(m.sourceField), lit("OUTLIER"),
          concat(lit(s"${m.sourceField}="), d.cast(StringType),
            lit(s" is a z-score outlier (|z| > $thr)")),
          col(m.sourceField))
        // zero/undefined variance (constant column, single row) means no
        // outliers — without the guard z is NaN and Spark orders NaN
        // above every number, flagging ALL rows
        annotated = annotated.withColumn(ErrorsCol,
          when(d.isNotNull && !isnan(sd) && sd > 0 && z > thr,
            concat(col(ErrorsCol), array(err)))
            .otherwise(col(ErrorsCol)))
      }
      annotated = annotated.drop(outlierRules.flatMap { case (m, _) =>
        Seq(statMean(m.sourceField), statStd(m.sourceField)) }: _*)
    }

    // -- global validations ----------------------------------------------
    config.globalValidations.filter(g => includeGlobal(g.ruleType)).foreach { g =>
      g.ruleType match {
        case RuleTypes.DuplicateCheck =>
          // every member of a duplicate group becomes invalid, but only
          // rows with NO prior errors gain the DUPLICATE entry
          // (reference src/data_validator.py:204-226: `if idx not in
          // self.invalid_rows`). field_value='multiple'.
          val fields = g.parameters.getOrElse("fields", "").split(",").map(_.trim).filter(_.nonEmpty)
          if (fields.nonEmpty) {
            val cnt = count(lit(1)).over(Window.partitionBy(fields.map(col).toIndexedSeq: _*))
            val err = errorEntry(
              lit(fields.mkString(",")), lit("DUPLICATE"),
              lit(s"Duplicate combination of ${fields.mkString("[", ", ", "]")}"),
              lit("multiple"))
            annotated = annotated.withColumn(ErrorsCol,
              when(size(col(ErrorsCol)) === 0 && cnt > 1, array(err))
                .otherwise(col(ErrorsCol)))
          }
        case RuleTypes.ReferentialIntegrity =>
          // declared-only in the reference (config/mapping_config.xml:63);
          // natural semantics: broadcast anti-membership flag.
          (g.parameters.get("foreignTable"), g.parameters.get("foreignKey")) match {
            case (Some(table), Some(fk)) =>
              val flag = presenceFlag(s"RI:$table:$fk")
              val present: Column = dimensions.get(table) match {
                case Some(dim) =>
                  val key = dimensions(table).columns.head
                  val dimKeys = dim.select(col(key).cast(StringType).as(flag)).distinct()
                  annotated = annotated.join(broadcast(dimKeys),
                    annotated(fk).cast(StringType) === dimKeys(flag), "left")
                  col(flag).isNotNull
                case None => lit(true) // no dim registered → can't check
              }
              val err = errorEntry(
                lit(fk), lit("REFERENTIAL_INTEGRITY"),
                concat(lit(s"$fk='"), col(fk).cast(StringType),
                  lit(s"' not found in $table")),
                col(fk))
              annotated = annotated.withColumn(ErrorsCol,
                when(col(fk).isNotNull && !present,
                  concat(col(ErrorsCol), array(err))).otherwise(col(ErrorsCol)))
              if (dimensions.contains(table)) annotated = annotated.drop(flag)
            case _ =>
          }
        case _ => // unknown global rule: skipped, like the reference's dispatch
      }
    }

    annotated
  }

  def splitValid(annotated: DataFrame): DataFrame =
    annotated.filter(size(col(ErrorsCol)) === 0)

  def splitInvalid(annotated: DataFrame): DataFrame =
    annotated.filter(size(col(ErrorsCol)) > 0)

  /** Valid-rows sink projection: source→target rename, declared-type
    * casts, literal ValidationStatus + FileSource lineage
    * (reference src/etl_processor.py:68-92).
    */
  def validOutput(annotated: DataFrame): DataFrame = {
    val renamed = mappings.map { m =>
      col(m.sourceField).cast(SchemaBuilder.sparkType(m.dataType)).as(m.targetField)
    }
    val lineage =
      if (annotated.columns.contains(FileSourceCol)) col(FileSourceCol)
      else input_file_name()
    splitValid(annotated).select(
      renamed :+ lineage.as("FileSource") :+ lit("VALID").as("ValidationStatus"): _*)
  }

  /** Error sink: one row per error, FieldValue truncated to 255 chars
    * (reference src/etl_processor.py:110-144).
    */
  def errorOutput(annotated: DataFrame): DataFrame = {
    val lineage =
      if (annotated.columns.contains(FileSourceCol)) col(FileSourceCol)
      else input_file_name()
    splitInvalid(annotated)
      .select(lineage.as("FileSource"), explode(col(ErrorsCol)).as("e"))
      .select(
        col("FileSource"),
        col("e.ErrorType").as("ErrorType"),
        col("e.ErrorMessage").as("ErrorMessage"),
        col("e.FieldName").as("FieldName"),
        substring(col("e.FieldValue"), 1, 255).as("FieldValue"))
  }

  /** Full run: annotate once (persisted), write both sinks, return counts.
    * dryRun skips the sinks (the reference parses --dry-run but drops it,
    * src/main.py:77-90 — implemented as declared per SURVEY §2.6).
    * ErrorHandling=abort (config/mapping_config.xml:68, parsed-but-unread
    * in the reference) fails the run on any invalid row BEFORE writing
    * either sink; continue (default) routes invalid rows to the error
    * sink and proceeds.
    */
  def run(
      spark: SparkSession,
      inputPath: String,
      validOut: String,
      errorsOut: String,
      dryRun: Boolean = false
  ): ValidationSummary = {
    val annotated = annotate(readCsv(spark, inputPath))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // coalesce: sum() over ZERO rows is null — a header-only CSV must
      // yield ValidationSummary(0,0,0,0), not an NPE
      val counts = annotated.agg(
        count(lit(1)).as("total"),
        coalesce(sum(when(size(col(ErrorsCol)) === 0, 1L).otherwise(0L)), lit(0L)).as("valid"),
        coalesce(sum(size(col(ErrorsCol)).cast(LongType)), lit(0L)).as("errors")
      ).collect()(0)
      val total = counts.getLong(0)
      val valid = counts.getLong(1)
      val errors = counts.getLong(2)
      val summary = ValidationSummary(total, valid, total - valid, errors)
      if (summary.invalid > 0 && config.etl.errorHandling.equalsIgnoreCase("abort"))
        throw new IllegalStateException(
          s"ErrorHandling=abort: ${summary.invalid} invalid rows in $inputPath " +
            s"(${summary.errorCount} errors); nothing written")
      if (!dryRun) {
        validOutput(annotated).write.mode("overwrite").parquet(validOut)
        errorOutput(annotated).write.mode("overwrite").parquet(errorsOut)
      }
      summary
    } finally annotated.unpersist()
  }

  /** Deterministic first-N error preview (the reference's "First 5
    * Errors" print + get_error_report export,
    * src/data_validator.py:238-247). The reference relies on list
    * insertion order; a distributed frame has none, so the preview
    * sorts explicitly on the full record key — stable across runs,
    * partition counts, and AQE decisions (ties that survive the sort
    * are bit-identical rows, so the selected SET is still unique).
    * orderBy+limit plans as TakeOrderedAndProject: per-partition top-N,
    * never a global sort of all errors.
    */
  def errorReport(annotated: DataFrame, n: Int = 5): DataFrame =
    errorOutput(annotated)
      .orderBy("FileSource", "FieldName", "ErrorType", "FieldValue", "ErrorMessage")
      .limit(n)

  /** Per-file batch mode (reference main.py:34-55): enumerate the glob
    * driver-side, run the full pipeline once per file, and isolate
    * failures — one unreadable/misshapen file is reported and skipped
    * instead of aborting the whole batch. Each file writes into its own
    * sink subdirectory (`<out>/<fileName>/`).
    *
    * This is the fault-isolation mode, not the scale mode: it serializes
    * one (distributed) Spark job per file. For homogeneous inputs the
    * single multi-file glob scan in [[run]] is the 100 TB path — use
    * this when per-file isolation and per-file outcome reporting matter
    * more than cluster utilization (heterogeneous vendor drops).
    * Enumeration goes through the Hadoop FileSystem API, so the pattern
    * may live on any supported filesystem, not just local disk.
    */
  def runBatch(
      spark: SparkSession,
      pattern: String,
      validOut: String,
      errorsOut: String,
      dryRun: Boolean = false
  ): BatchResult = {
    val hadoopPath = new org.apache.hadoop.fs.Path(pattern)
    val fs = hadoopPath.getFileSystem(spark.sessionState.newHadoopConf())
    val matched = Option(fs.globStatus(hadoopPath)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath).sortBy(_.toString).toIndexedSeq
    // sink subdirectory per file, disambiguated: a multi-directory glob
    // (data/*/report.csv) or sanitization can map two files to one
    // basename — a bare basename key would silently overwrite the first
    // file's output while both report success
    // names are probed until unused AND reserved, so a generated
    // "name_2" can never collide with a later file literally named
    // "name_2" (or vice versa)
    val taken = scala.collection.mutable.Set.empty[String]
    val names = matched.map { p =>
      val base = p.getName.replaceAll("[^A-Za-z0-9._-]", "_")
      val name = Iterator.single(base)
        .concat(Iterator.from(2).map(k => s"${base}_$k"))
        .find(!taken.contains(_)).get
      taken += name
      name
    }
    BatchResult(matched.zip(names).map { case (p, name) =>
      try {
        val s = run(spark, p.toString, s"$validOut/$name", s"$errorsOut/$name", dryRun)
        FileResult(p.toString, Some(s), None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          FileResult(p.toString, None, Some(rootMessage(e)))
      }
    })
  }

  /** Innermost non-empty exception message — per-file CSV failures
    * surface as SparkException wrappers around the real cause.
    */
  private def rootMessage(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    chain.reverseIterator.flatMap(t => Option(t.getMessage)).find(_.nonEmpty)
      .getOrElse(e.getClass.getName)
  }

  /** Typed face of the valid sink — `Dataset[QualityRecord]` where
    * compile-time row shape helps downstream consumers. Only valid for
    * the reference's standard 9-field mapping (the schema must line up
    * with [[QualityRecord]]).
    */
  def typedValidOutput(annotated: DataFrame): Dataset[QualityRecord] = {
    implicit val enc: Encoder[QualityRecord] = Encoders.product[QualityRecord]
    validOutput(annotated).as[QualityRecord]
  }

  /** Typed face of the error sink. */
  def typedErrorOutput(annotated: DataFrame): Dataset[ErrorRecord] = {
    implicit val enc: Encoder[ErrorRecord] = Encoders.product[ErrorRecord]
    errorOutput(annotated).as[ErrorRecord]
  }

  /** S4 parity sink: batched JDBC append of the valid rows into the
    * configured target table (reference src/etl_processor.py:53-108 —
    * per-row INSERT with commit every BatchSize rows; Spark's JDBC
    * writer batches with the same knob, per-partition and in parallel).
    * Execution-verified against embedded Derby in PipelineSpec.
    */
  def writeJdbc(annotated: DataFrame, url: String, props: java.util.Properties): Unit = {
    val out = validOutput(annotated)
    out.write
      .mode("append")
      .option("batchsize", config.etl.batchSize)
      .option("createTableColumnTypes", varcharDdl(out, wide = Set("FileSource")))
      .jdbc(url, config.target.targetTable, props)
  }

  /** S4 parity sink for the error log: batched JDBC append of the
    * exploded error rows (reference src/etl_processor.py:110-144 —
    * per-row INSERT into the hard-coded Production.DataValidationErrors
    * table, one commit at the end; FieldValue is already truncated to
    * 255 chars by [[errorOutput]], matching the reference's
    * `str(...)[:255]`). Same batchsize knob as the valid sink.
    */
  def writeErrorsJdbc(
      annotated: DataFrame,
      url: String,
      props: java.util.Properties,
      table: String = "Production.DataValidationErrors"
  ): Unit = {
    val out = errorOutput(annotated)
    out.write
      .mode("append")
      .option("batchsize", config.etl.batchSize)
      .option("createTableColumnTypes",
        varcharDdl(out, wide = Set("FileSource", "ErrorMessage")))
      .jdbc(url, table, props)
  }

  /** Explicit VARCHAR DDL for the string columns of a JDBC sink frame.
    * Some dialects (Derby among them) default StringType to CLOB, which
    * cannot be compared — so pushed-down predicates on those columns
    * fail server-side. The sinks' string fields are bounded (FieldValue
    * is pre-truncated to 255; paths/messages get a wider 1024), so
    * declaring VARCHAR is both safe and index/filter-friendly.
    */
  private def varcharDdl(df: DataFrame, wide: Set[String]): String =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType =>
        s"${f.name} VARCHAR(${if (wide(f.name)) 1024 else 255})"
    }.mkString(", ")

  /** S6/A3: processing-summary over a loaded QualityData frame through
    * the SQL surface (reference src/etl_processor.py:146-158: last-N-days
    * filter, cast-to-date, group count, newest-first). The reference
    * groups on the warehouse's insert-time ProcessedDate; our sink has
    * no insert timestamp, so the record's own RecordTimestamp is the
    * date axis — documented deviation.
    */
  def processingSummary(
      spark: SparkSession,
      qualityData: DataFrame,
      days: Int = 7
  ): DataFrame = {
    qualityData.createOrReplaceTempView("QualityData")
    spark.sql(
      s"""SELECT CAST(RecordTimestamp AS DATE) AS ProcessDate,
         |       ValidationStatus,
         |       COUNT(*) AS RecordCount
         |FROM QualityData
         |WHERE RecordTimestamp >= date_sub(current_date(), $days)
         |GROUP BY CAST(RecordTimestamp AS DATE), ValidationStatus
         |ORDER BY ProcessDate DESC""".stripMargin)
  }

  /** Archive a processed file with a timestamp prefix
    * (reference src/etl_processor.py:160-179); driver-side, gated by
    * the ArchiveProcessedFiles flag.
    */
  def archive(file: java.nio.file.Path, processedDir: java.nio.file.Path): Option[java.nio.file.Path] = {
    if (!config.etl.archiveProcessedFiles) return None
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss")
      .format(java.time.LocalDateTime.now())
    java.nio.file.Files.createDirectories(processedDir)
    val dest = processedDir.resolve(s"${stamp}_${file.getFileName}")
    Some(java.nio.file.Files.move(file, dest))
  }

}

object ValidationPipeline {
  val ErrorsCol = "errors"
  val FileSourceCol = "_file_source"
  // the readable sanitized name is NOT injective ("a_b:c" and "a:b_c"
  // both sanitize to a_b_c) — suffix a hash of the raw key so distinct
  // lookup rules always get distinct join columns
  private def presenceFlag(table: String) =
    s"__present_${table.replaceAll("[^A-Za-z0-9]", "_")}_${table.hashCode & 0x7fffffff}"
  private def statMean(field: String) = s"__stat_mean_$field"
  private def statStd(field: String) = s"__stat_std_$field"
}
