package prodbench

import graft.pipeline.{FileResult, ValidationSummary}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's self-test: runs one rep of every workload on small
  * inputs, confirms its checks pass, then perturbs the outputs one way at
  * a time and confirms the checks catch each perturbation. Prints one
  * `selftest ...` line per case; exits non-zero if any perturbation goes
  * unnoticed or a clean rep fails its checks.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = a("cpus").toInt
    val config = Paths.get(a("config"))
    val spark = SparkSession.builder()
      .appName("prodbench-selftest")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var bad = 0

    /** Rewrites the parquet dataset at `dir` through `f` on its rows. */
    def rewrite(dir: Path, partitionBy: String*)(f: Seq[Row] => Seq[Row]): Unit = {
      val df = spark.read.parquet(dir.toString)
      val rows = f(df.collect().toSeq)
      val tmp = Paths.get(dir.toString + ".rewrite")
      val w = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema).write
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(tmp.toString)
      Files2.deleteTree(dir)
      Files.move(tmp, dir)
    }

    /** Runs rep 0, then each perturbation on a fresh copy of its outputs. */
    def suite(name: String, wl: Workload, outputs: Path,
        cases: Seq[(String, () => Unit)], reset: () => Unit = () => ()): Unit = {
      wl.setup()
      wl.prepare(0)
      wl.op(0, None)
      val clean = wl.check(0)
      println(s"selftest $name clean rep: " +
        (if (clean.isEmpty) "checks pass" else { bad += 1; s"FAILED ${clean.mkString("; ")}" }))
      val backup = Paths.get(outputs.toString + ".clean")
      Files2.copyTree(outputs, backup)
      cases.foreach { case (what, perturb) =>
        Files2.deleteTree(outputs)
        Files2.copyTree(backup, outputs)
        reset()
        perturb()
        val fails = wl.check(0)
        println(s"selftest $name $what: " +
          (if (fails.nonEmpty) s"detected (${fails.head})" else { bad += 1; "NOT DETECTED" }))
      }
      Files2.deleteTree(backup)
      wl.cleanup(0)
    }

    def dropFirst(rows: Seq[Row]): Seq[Row] = rows.drop(1)

    // --- etl_glob -----------------------------------------------------
    {
      val wl = new EtlWorkload(spark, inputs.resolve("etl_glob"), work.resolve("etl_glob"), config, batch = false)
      val dir = wl.repDir(0)
      var summary: Option[ValidationSummary] = None
      suite("etl_glob", wl, dir, Seq(
        "one valid-sink row dropped" -> (() => rewrite(Paths.get(wl.validOut(0)))(dropFirst)),
        "one error-sink row dropped" -> (() => rewrite(Paths.get(wl.errorsOut(0)))(dropFirst)),
        "one error row retyped" -> (() => rewrite(Paths.get(wl.errorsOut(0))) { rows =>
          val i = rows.head.fieldIndex("ErrorType")
          val r = rows.head
          Row.fromSeq(r.toSeq.updated(i, if (r.getString(i) == "RANGE") "NUMERIC" else "RANGE")) +: rows.tail
        }),
        "one valid row attributed to another file" -> (() => rewrite(Paths.get(wl.validOut(0))) { rows =>
          val i = rows.head.fieldIndex("FileSource")
          val other = rows.map(_.getString(i)).find(_ != rows.head.getString(i)).get
          Row.fromSeq(rows.head.toSeq.updated(i, other)) +: rows.tail
        }),
        "summary valid count off by one" -> (() =>
          summary.foreach(s => wl.summaries(0) = s.copy(valid = s.valid - 1, invalid = s.invalid + 1)))
      ), reset = () => {
        if (summary.isEmpty) summary = wl.summaries.get(0)
        summary.foreach(wl.summaries(0) = _)
      })
    }

    // --- etl_batch ----------------------------------------------------
    {
      val wl = new EtlWorkload(spark, inputs.resolve("etl_batch"), work.resolve("etl_batch"), config, batch = true)
      val dir = wl.repDir(0)
      var batchResult = Option.empty[graft.pipeline.BatchResult]
      def firstSub(out: String): Path = {
        val s = Files.list(Paths.get(out))
        try s.sorted().findFirst().get() finally s.close()
      }
      suite("etl_batch", wl, dir, Seq(
        "one valid-sink row dropped" -> (() => rewrite(firstSub(wl.validOut(0)))(dropFirst)),
        "one error-sink row dropped" -> (() => rewrite(firstSub(wl.errorsOut(0)))(dropFirst)),
        "one archived file restored" -> (() => {
          val processed = wl.inDir(0).resolve("processed")
          val s = Files.list(processed)
          val f = try s.sorted().findFirst().get() finally s.close()
          Files.move(f, wl.inDir(0).resolve(f.getFileName.toString.drop(16)))
        }),
        "a corrupt file reported as processed" -> (() =>
          batchResult.foreach(b => wl.batchResults(0) = b.copy(files = b.files.map { f =>
            if (f.succeeded) f else FileResult(f.file, Some(ValidationSummary(1, 1, 0, 0)), None)
          }))),
        "one file summary off by one" -> (() =>
          batchResult.foreach(b => wl.batchResults(0) = b.copy(files = b.files.map { f =>
            f.summary match {
              case Some(s) if f eq b.files.find(_.succeeded).get =>
                f.copy(summary = Some(s.copy(errorCount = s.errorCount + 1)))
              case _ => f
            }
          })))
      ), reset = () => {
        if (batchResult.isEmpty) batchResult = wl.batchResults.get(0)
        batchResult.foreach(wl.batchResults(0) = _)
      })
    }

    // --- index_ingest -------------------------------------------------
    {
      val wl = new IndexIngestWorkload(spark, inputs.resolve("index_ingest"), work.resolve("index_ingest"))
      val dir = wl.repDir(0)
      def firstId(b: Int) = wl.batches(b).get("first_id").asLong
      suite("index_ingest", wl, dir, Seq(
        "one kept doc dropped" -> (() => rewrite(dir.resolve("novel"))(dropFirst)),
        "one copy kept" -> (() => rewrite(dir.resolve("novel")) { rows =>
          val copy = Json.longs(wl.batches.head.get("dropped")).head
          rows :+ Row(copy)
        }),
        "one neighbour row dropped" -> (() => rewrite(dir.resolve("neighbors"))(dropFirst)),
        "one self-pair" -> (() => rewrite(dir.resolve("neighbors")) { rows =>
          val r = rows.head
          Row.fromSeq(r.toSeq.updated(r.fieldIndex("id"), r.getLong(r.fieldIndex("query_id")))) +: rows.tail
        }),
        "one neighbour from the query's own batch" -> (() => rewrite(dir.resolve("neighbors")) { rows =>
          val r = rows.head
          val q = r.getLong(r.fieldIndex("query_id"))
          val own = firstId(wl.batches.indexWhere(b => q <= b.get("last_id").asLong))
          val sameBatch = if (q == own) q + 1 else own
          Row.fromSeq(r.toSeq.updated(r.fieldIndex("id"), sameBatch)) +: rows.tail
        }),
        "one neighbour id that no input holds" -> (() => rewrite(dir.resolve("neighbors")) { rows =>
          val r = rows.head
          val pastLast = wl.batches.last.get("last_id").asLong + 1
          Row.fromSeq(r.toSeq.updated(r.fieldIndex("id"), pastLast)) +: rows.tail
        }),
        "one pq index row lost" -> (() =>
          rewrite(dir.resolve("pq_idx").resolve("cells"), "cell")(dropFirst)),
        "one dedup index row lost" -> (() =>
          rewrite(dir.resolve("dedup_idx").resolve("shingles"), "shard")(dropFirst))
      ))
    }

    spark.stop()
    println(s"selftest ${if (bad == 0) "PASSED" else s"FAILED ($bad cases)"}")
    if (bad != 0) sys.exit(1)
  }
}
