package prodbench

import com.fasterxml.jackson.databind.JsonNode
import graft.config.XmlConfigParser
import graft.pipeline.{BatchResult, ValidationPipeline, ValidationSummary}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** `etl_glob` (one `run` over a glob of large CSVs) and `etl_batch` (one
  * `runBatch` over many small CSVs, then `archive` of each successful
  * file, as `graft.Main --batch` does). Both use the full rule set with
  * the Products / Operators dimensions registered.
  */
final class EtlWorkload(
    spark: SparkSession, inputs: Path, work: Path, config: Path, batch: Boolean
) extends Workload {
  private val expected: JsonNode = Json.read(inputs.resolve("expected.json"))
  private val fileSpecs = expected.get("files").elements().asScala.toSeq
  private val goodFiles = fileSpecs.filterNot(_.get("corrupt").asBoolean)
  private val corruptNames = fileSpecs.filter(_.get("corrupt").asBoolean).map(_.get("name").asText).toSet
  private val errorTypes = expected.get("errors").fieldNames().asScala.toSeq.sorted
  private val csvDir = inputs.resolve("csv")
  val rows: Long = expected.get("rows").asLong
  val files: Int = fileSpecs.size
  val inputBytes: Long = expected.get("input_bytes").asLong
  // rep 0 compiles the rule projection; the JIT then keeps speeding up
  // the driver-side planning for 20 reps and more, too long to wait out
  // in one run, so etl_glob drops only the reps that still read 2-5x the
  // timed ones and takes the median over the timed window (README.md)
  val warmupReps = if (batch) 2 else 3

  private var pipeline: ValidationPipeline = _
  /** each rep's returned summary (etl_glob) or batch result (etl_batch) */
  private[prodbench] val summaries = scala.collection.mutable.Map.empty[Int, ValidationSummary]
  private[prodbench] val batchResults = scala.collection.mutable.Map.empty[Int, BatchResult]

  private[prodbench] def repDir(rep: Int): Path = work.resolve(f"rep_$rep%03d")
  private[prodbench] def inDir(rep: Int): Path = if (batch) repDir(rep).resolve("in") else csvDir
  private[prodbench] def validOut(rep: Int) = repDir(rep).resolve("valid").toString
  private[prodbench] def errorsOut(rep: Int) = repDir(rep).resolve("errors").toString

  private def dim(file: String): DataFrame = {
    val lines = Files.readAllLines(inputs.resolve(file)).asScala.toSeq
    val header = lines.head.split(",", -1)
    val schema = StructType(header.map(StructField(_, StringType)))
    val data = lines.tail.map(l => Row.fromSeq(l.split(",", -1).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  def setup(): Unit = {
    val cfg = XmlConfigParser.parseFile(config.toString)
    pipeline = new ValidationPipeline(cfg, Map(
      "Production.Products" -> dim("products.csv"),
      "Production.Operators" -> dim("operators.csv")))
  }

  def prepare(rep: Int): Unit = {
    Files2.deleteTree(repDir(rep))
    Files.createDirectories(repDir(rep))
    if (batch) Files2.copyTree(csvDir, inDir(rep))
  }

  def op(rep: Int, tracer: Option[Tracer]): Int =
    if (!batch) {
      summaries(rep) = pipeline.run(spark,
        inDir(rep).resolve("production_data_*.csv").toString, validOut(rep), errorsOut(rep))
      0
    } else {
      val result = pipeline.runBatch(spark,
        inDir(rep).resolve("production_data_*.csv").toString, validOut(rep), errorsOut(rep))
      batchResults(rep) = result
      // archive each successfully processed local file, as Main --batch does
      result.files.filter(_.succeeded).foreach { f =>
        val p = Paths.get(new org.apache.hadoop.fs.Path(f.file).toUri.getPath)
        val move = () => pipeline.archive(p, p.toAbsolutePath.getParent.resolve("processed"))
        tracer match {
          case Some(t) => t.timed("archive", "pipeline")(move())
          case None => move()
        }
      }
      result.files.count { f =>
        val name = Paths.get(new org.apache.hadoop.fs.Path(f.file).toUri.getPath).getFileName.toString
        f.succeeded == corruptNames.contains(name)
      } + math.abs(result.total - files)
    }

  private def baseName(uri: String): String =
    Paths.get(new org.apache.hadoop.fs.Path(uri).toUri.getPath).getFileName.toString

  private def parentDir(uri: String): Path =
    Paths.get(new org.apache.hadoop.fs.Path(uri).toUri.getPath).getParent

  /** A sink's dataset path: runBatch writes one subdirectory per file. */
  private def sinkPath(out: String): String = if (batch) s"$out/*" else out

  def check(rep: Int): Seq[String] = {
    val fails = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) fails += s"$what: got $got, want $want"

    // --- summaries -------------------------------------------------------
    if (!batch) {
      expect("summary", summaries.get(rep), Some(ValidationSummary(
        expected.get("total").asLong, expected.get("valid").asLong,
        expected.get("invalid").asLong, expected.get("error_count").asLong)))
    } else {
      val byName = batchResults.get(rep).map(_.files.map(f => baseName(f.file) -> f).toMap).getOrElse(Map.empty)
      expect("batch file count", byName.size, files)
      goodFiles.foreach { f =>
        val name = f.get("name").asText
        expect(s"summary of $name", byName.get(name).flatMap(_.summary), Some(ValidationSummary(
          f.get("rows").asLong, f.get("valid").asLong, f.get("invalid").asLong,
          f.get("invalid").asLong)))
      }
      corruptNames.foreach { n =>
        expect(s"corrupt $n failed", byName.get(n).map(!_.succeeded), Some(true))
      }
    }

    // --- sinks: per-file valid rows, per-file per-type error rows ------
    val inputDir = inDir(rep).toAbsolutePath.normalize()
    val valid = spark.read.parquet(sinkPath(validOut(rep)))
      .groupBy(col("FileSource")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val errs = spark.read.parquet(sinkPath(errorsOut(rep)))
      .groupBy(col("FileSource"), col("ErrorType")).count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // lineage: every FileSource names an input file of this run's directory
    (valid.map(_._1) ++ errs.map(_._1)).distinct.foreach { uri =>
      if (parentDir(uri) != inputDir || !goodFiles.exists(_.get("name").asText == baseName(uri)))
        fails += s"FileSource $uri is not a good input file of $inputDir"
    }
    val validByFile = valid.map { case (u, n) => baseName(u) -> n }.groupMapReduce(_._1)(_._2)(_ + _)
    val errByFileType = errs.map { case (u, t, n) => (baseName(u), t) -> n }.groupMapReduce(_._1)(_._2)(_ + _)
    goodFiles.foreach { f =>
      val name = f.get("name").asText
      expect(s"valid rows of $name", validByFile.getOrElse(name, 0L), f.get("valid").asLong)
      errorTypes.foreach { t =>
        expect(s"$t rows of $name", errByFileType.getOrElse((name, t), 0L),
          f.get("errors").get(t).asLong)
      }
    }
    val unknownTypes = errByFileType.keySet.map(_._2) -- errorTypes
    if (unknownTypes.nonEmpty) fails += s"unexpected error types $unknownTypes"
    errorTypes.foreach { t =>
      expect(s"$t rows", errs.filter(_._2 == t).map(_._3).sum, expected.get("errors").get(t).asLong)
    }
    expect("valid rows", valid.map(_._2).sum, expected.get("valid").asLong)

    // --- archive: good files moved to processed/, corrupt ones stay ------
    if (batch) {
      val in = inDir(rep)
      val processed = in.resolve("processed")
      val archived =
        if (!Files.isDirectory(processed)) Set.empty[String]
        else {
          val s = Files.list(processed)
          try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
        }
      goodFiles.map(_.get("name").asText).foreach { n =>
        if (!archived.exists(a => a.endsWith("_" + n) && a.length == n.length + 16))
          fails += s"$n was not archived"
        if (Files.exists(in.resolve(n))) fails += s"$n is still in the input directory"
      }
      corruptNames.foreach { n =>
        if (!Files.exists(in.resolve(n))) fails += s"corrupt $n left the input directory"
        if (archived.exists(_.endsWith("_" + n))) fails += s"corrupt $n was archived"
      }
    }
    fails.result()
  }

  override def cleanup(rep: Int): Unit = {
    summaries -= rep
    batchResults -= rep
    Files2.deleteTree(repDir(rep))
  }

  def layerMetrics(t: OpTrace, tracer: Tracer): Map[String, Double] = {
    val rd = repDir(t.name.split('#').last.toInt).toAbsolutePath.toString
    def execName(x: ExecRec): String =
      if (x.description.contains(rd + "/valid")) "valid_sink"
      else if (x.description.contains(rd + "/errors")) "error_sink"
      else "summary"
    tracer.record(t, n => if (n == "archive" || n == "summary") "pipeline" else "sink", execName)
    val named = t.execs.map(x => execName(x) -> x)
    val opEnd = t.endMs
    def execSeconds(name: String): Double = named.collect {
      case (`name`, x) => (x.endOr(opEnd) - x.startMs) / 1e3
    }.sum
    val covered = Tracer.coveredMs(
      t.execs.map(x => (x.startMs.toDouble, x.endOr(opEnd))) ++
        t.timers.map(s => (s.startMs, s.endMs)), t.startMs.toDouble, opEnd)
    val execLabel = named.map { case (n, x) => x.id -> n }.toMap
    def sinkCounts(name: String): Counts =
      Counts.sum(t.jobs.filter(_.execId.flatMap(execLabel.get).contains(name)).map(_.counts))
    val total = t.total
    val runs = if (batch) files.toDouble else 1.0
    val validSink = sinkCounts("valid_sink")
    val errorSink = sinkCounts("error_sink")
    Map(
      "pipeline.summary_s" -> execSeconds("summary"),
      "pipeline.valid_sink_s" -> execSeconds("valid_sink"),
      "pipeline.error_sink_s" -> execSeconds("error_sink"),
      "pipeline.driver_s" -> (t.wallS - covered / 1e3),
      "pipeline.archive_s" -> t.timers.filter(_.name == "archive").map(_.seconds).sum,
      "pipeline.jobs_per_run" -> total.jobs / runs,
      "pipeline.stages_per_run" -> total.stages / runs,
      "pipeline.tasks_per_run" -> total.tasks / runs,
      "scan.passes" -> total.recordsRead.toDouble / rows,
      "scan.input_bytes" -> total.bytesRead.toDouble,
      "sink.valid_rows" -> validSink.outRecords.toDouble,
      "sink.error_rows" -> errorSink.outRecords.toDouble,
      "sink.bytes_per_input_byte" -> (validSink.outBytes + errorSink.outBytes).toDouble / inputBytes)
  }
}
