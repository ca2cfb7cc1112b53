package prodbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One rep's wall seconds (None when it threw), the seconds the JIT
  * compilers spent during it and, when traced, its trace. */
final case class Rep(rep: Int, wall: Option[Double], jitS: Double, trace: Option[OpTrace])

/** The workload JVM: one SparkSession with `local[<cpus>]`, a closed loop
  * with one client and one operation at a time.
  *
  *   set-up   session start, workload set-up, the workload's warm-up
  *            reps (discarded)
  *   timed    reps back to back until `--seconds` have passed (at least
  *            `MinReps`); their outputs are checked afterwards, so the
  *            checks' own Spark jobs never sit between two timed reps
  *   traced   (--trace 1) timed reps come in untraced / traced pairs,
  *            the order swapped from pair to pair; the traced ones
  *            attribute time and work to layers
  *
  * Every timed rep's outputs are checked against the planted ground truth.
  * Writes one result JSON (`--result`) and, when traced, the spans
  * (`--spans`); run.py turns them into the benchmark's result line.
  */
object Main {
  val MinReps = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val tracing = a.get("trace").contains("1")
    val cpus = a("cpus").toInt
    Files.createDirectories(work)

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .appName("prodbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val wl: Workload = workloadName match {
      case "etl_glob" => new EtlWorkload(spark, inputs, work, Paths.get(a("config")), batch = false)
      case "etl_batch" => new EtlWorkload(spark, inputs, work, Paths.get(a("config")), batch = true)
      case "index_ingest" => new IndexIngestWorkload(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var attempted = 0
    var failed = 0
    var rep = 0

    /** One rep: stage its inputs and outputs (untimed), then time the
      * operation. The wall time is None when the operation threw. */
    def runRep(tracer: Option[Tracer]): Rep = {
      val r = rep
      rep += 1
      attempted += 1
      wl.prepare(r)
      tracer.foreach(_.begin(s"$workloadName#$r"))
      val jit0 = jitSeconds()
      val t0 = System.nanoTime()
      val outcome =
        try Right(wl.op(r, tracer))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val jitS = jitSeconds() - jit0
      val trace = tracer.map(_.end())
      outcome match {
        case Left(e) =>
          failed += 1
          System.err.println(s"[prodbench] rep $r threw: $e")
          e.printStackTrace()
          Rep(r, None, jitS, None)
        case Right(unexpected) =>
          if (unexpected > 0) {
            failed += 1
            System.err.println(s"[prodbench] rep $r: $unexpected unexpected file outcomes")
          }
          Rep(r, Some(wall), jitS, trace)
      }
    }

    // --- set-up: workload set-up, then the discarded warm-up reps -------
    val tSetup = System.nanoTime()
    wl.setup()
    val setupWorkS = (System.nanoTime() - tSetup) / 1e9
    val warm = (1 to wl.warmupReps).map { _ =>
      val w = runRep(None)
      wl.cleanup(w.rep)
      w
    }
    val setupS = (System.nanoTime() - tSession) / 1e9

    // --- timed phase: reps back to back, outputs kept for the checks ----
    val untraced = mutable.ArrayBuffer.empty[Rep]
    val traced = mutable.ArrayBuffer.empty[Rep]
    val tracer = if (tracing) Some(new Tracer(spark)) else None
    val tTimed = System.nanoTime()
    def elapsed = (System.nanoTime() - tTimed) / 1e9
    def tracedRep(t: Tracer): Unit = {
      t.attach()
      traced += runRep(tracer)
      t.detach()
    }
    while (untraced.size < MinReps || elapsed < seconds) {
      // traced runs swap the order of each pair, so that neither kind
      // always runs first
      val tracedFirst = untraced.size % 2 == 1
      if (tracedFirst) tracer.foreach(tracedRep)
      untraced += runRep(None)
      if (!tracedFirst) tracer.foreach(tracedRep)
    }
    val timedS = elapsed

    // --- checks (untimed): every timed rep against the ground truth -----
    val tCheck = System.nanoTime()
    val checkFailures = mutable.ArrayBuffer.empty[String]
    val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
    (untraced ++ traced).sortBy(_.rep).foreach { x =>
      if (x.wall.isDefined) {
        val fails =
          try wl.check(x.rep)
          catch { case scala.util.control.NonFatal(e) => Seq(s"check threw: $e") }
        fails.foreach(f => System.err.println(s"[prodbench] rep ${x.rep} check failed: $f"))
        checkFailures ++= fails
        // per-layer metrics read facts the check just gathered
        for (t <- tracer; ot <- x.trace) layerSamples += layerMetrics(wl, ot, t, cpus)
      }
      wl.cleanup(x.rep)
    }
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val walls = untraced.flatMap(_.wall)
    val tracedWalls = traced.flatMap(_.wall)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName,
      "cpus" -> cpus,
      "rows" -> wl.rows,
      "files" -> wl.files,
      "session_s" -> sessionS,
      "setup_work_s" -> setupWorkS,
      "setup_s" -> setupS,
      "warmup_wall_s" -> warm.map(_.wall.getOrElse(Double.NaN)),
      "warmup_jit_s" -> warm.map(_.jitS),
      "wall_s" -> walls.toSeq,
      "jit_s" -> untraced.filter(_.wall.isDefined).map(_.jitS).toSeq,
      "timed_phase_s" -> timedS,
      "check_s" -> checkS,
      "attempted" -> attempted,
      "failed" -> failed,
      "wrong_results" -> checkFailures.size,
      "check_failures" -> checkFailures.take(20).toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.runtime.version"))
    result ++= wl.setupFacts
    tracer.foreach { t =>
      result("traced_wall_s") = tracedWalls.toSeq
      val keys = layerSamples.flatMap(_.keys).distinct
      result("layers") = keys.map(k => k -> median(layerSamples.flatMap(_.get(k)).toSeq)).toMap
      a.get("spans").foreach { p =>
        val spans = t.spans.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_ms" -> selfMs(s, t.spans.toSeq), "attrs" -> s.attrs))
        val calls = t.qeCalls.map { case (f, id, secs) =>
          Map("function" -> f, "execution_id" -> id, "seconds" -> secs) }
        Files.write(Paths.get(p), Json.write(Map(
          "workload" -> workloadName, "query_executions" -> calls,
          "spans" -> spans)).getBytes(StandardCharsets.UTF_8))
      }
    }
    spark.stop()
    Files.write(Paths.get(a("result")), Json.write(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Per-layer metrics of one traced rep: the workload's own plus the
    * executor-level counters every workload has. */
  def layerMetrics(wl: Workload, t: OpTrace, tracer: Tracer, cpus: Int): Map[String, Double] = {
    val total = t.total
    wl.layerMetrics(t, tracer) ++ Map(
      "shuffle.write_bytes" -> total.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> total.shuffleRead.toDouble,
      "spill_bytes" -> total.spill.toDouble,
      "cache.bytes" -> t.cacheBytes.toDouble,
      "executor.cpu_s" -> total.cpuNs / 1e9,
      "executor.gc_s" -> total.gcMs / 1e3,
      "executor.busy_frac" -> total.cpuNs / 1e9 / (t.wallS * cpus))
  }

  /** A span's duration minus the part its children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(c => c.parent == s.id && c.id != s.id).map(c => (c.startMs, c.endMs))
    (s.endMs - s.startMs) - Tracer.coveredMs(kids, s.startMs, s.endMs)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds the JVM's JIT compilers have spent so far, summed over
    * their threads: how much compiling still runs beside a rep. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
