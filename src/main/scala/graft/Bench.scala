package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given SF
  * (median of SPARK_GRAFT_BENCH_REPS runs each, default 3) and
  * prints one JSON line. Materializes each result with a noop-format
  * write so Catalyst cannot prune the computed columns the way a bare
  * `count()` would (a rule-compiler query's `errors` array must actually
  * be evaluated for the timing to mean anything). Session config matches
  * Verify (UTC, non-ANSI) so timings reflect the verified plans.
  *
  * Degenerate-session hardening: one JVM occasionally lands in a state
  * where the JIT stops compiling the large generated methods (code-cache
  * pressure — see BASELINE.md) and EVERY query in the session runs
  * 3-10x slow; medians within that session cannot detect it. So this
  * main (a) writes per-rep times for every query to a side file
  * (`target/bench_reps.json`, override with SPARK_GRAFT_BENCH_REPS_FILE)
  * so bimodality stays visible without bloating the stdout summary line
  * past the driver's tail-capture window, and (b) when the pass total exceeds
  * SPARK_GRAFT_BENCH_BUDGET seconds, runs ONE full extra pass and
  * reports per-query min-of-medians across passes: both passes fully
  * measured the same deterministic plans, so the minimum is the honest
  * estimate of what the code costs in a healthy session. `passes` and
  * `sick` in the output record when this fired. Sickness is ALSO
  * flagged per entry: any query with a rep >3x its sibling reps (and
  * >1 s, to exempt sub-second jitter) is listed under `rep_outliers`
  * in both side files and counted as `n_rep_outliers` on the summary
  * line, so a single-entry JIT excursion inside an otherwise-healthy
  * session is machine-visible instead of narrative-only. MACHINE
  * CONTENTION (round 15 — three rounds were burned overlapping a
  * probe/verify session with the official bench) is likewise recorded,
  * not inferred: /proc/loadavg is sampled after every timed rep,
  * per-query samples land in the reps side file (`rep_loads`), session
  * stats in both side files (`load`) and the summary line
  * (`load_median`, `load_hot`), and a median load beyond ~1.5×cpus+2
  * emits a one-line CONTENDED note — so a `sick:true` artifact carries
  * its own cause. The default budget is
  * DERIVED FROM THE CATALOG — 0.9 s per query plus 4 s per io-query —
  * so growing the catalog cannot silently erode the headroom the way a
  * flat constant did (a 45 s flat budget calibrated for 47 queries
  * false-alarmed on a healthy 55-query session in round 6). At the
  * r10 catalog (89 queries, 16 io/streaming-flagged) that is ~144 s:
  * ~2.2x the healthy ~63 s sf0.1 total, while a degenerate JIT
  * session (3-10x slow) still trips it.
  *
  * Entries flagged `io` on their `CatalogEntry` (a real disk write and
  * read-back, or a streaming replay whose cost is micro-batch and
  * state-store machinery rather than plan work) are listed under
  * `io_queries` so total-time comparisons can discount them, and the
  * budget weights them as above.
  *
  * PER-QUERY WARMUP (round 10): the global warmup (the catalog's first
  * entry, the relational family's TPC-H-Q1 scan → hash agg) pays for
  * parquet-scan/shuffle/noop classloading, but each query still JIT-
  * compiles its OWN generated code on first execution, and iterative
  * entries (the checkpointed dedup-cluster loop: per-round codegen) spread
  * that warmup over their first TWO reps — r9 recorded 11.1/8.1/3.0 s
  * reps, so the median-of-3 reported 8.1 s for a 3.0 s-steady plan.
  * The official artifact must track plan cost, not JVM mood: each query
  * now runs ONE DISCARDED warmup execution immediately before its timed
  * reps (pass 1 only — a sick-session second pass is already hot); an
  * entry whose warm-up spans several executions says how many on its
  * `CatalogEntry` (`warmups`).
  * Warmup times are recorded in the reps side file under "warmup" so
  * the JIT cost stays visible; SPARK_GRAFT_BENCH_WARMUP=0 disables the
  * extra execution for experiments that want cold-start numbers.
  *
  * STDOUT CONTRACT (learned twice — r5 and r8 both shipped
  * `parsed: null`): the driver tail-captures ~2 KB of stdout and the
  * summary must be the LAST line, fully inside that window. An 81-query
  * medians map is ~4 KB, so the per-query medians now go to a side file
  * (`target/bench_medians.json`, override with
  * SPARK_GRAFT_BENCH_MEDIANS_FILE) next to the per-rep file, and the
  * stdout line carries only scalars (total, io subtotal, counts, sf,
  * passes, sick, n_failed — a count of failure-sentinel medians, since
  * the total excludes them and would otherwise read healthy-but-faster
  * with a broken query) plus the side-file paths; if absurd path overrides
  * push the line past 1500 bytes, the path refs are dropped (stderr
  * warning) rather than losing a completed run — catalog growth can
  * never re-break parsing because per-query data never rides the line.
  *
  * ARTIFACT ACCOUNTING (round 12): every shared per-dir artifact the
  * catalog declares through `graft.queries.Harness` — the persisted
  * frames (pair graph, shingle projection, PQ index, …) and the staged
  * dirs (seed and serving indexes, stream increments, …); the labels
  * are `Harness.artifactLabels` — is built once per session inside the
  * first consuming query's discarded warmup; its build wall-clock is
  * accumulated in `Queries.artifactBuildSeconds` and reported as
  * `artifact_sec` on
  * the summary line plus a per-artifact `artifact_breakdown` map in
  * the medians side file — the recurring per-corpus-refresh cost a
  * production deployment pays, surfaced instead of buried in the
  * warmup bucket. Full-catalog runs also write the medians body to a
  * repo-root `BENCH_latest_medians.json` (committed per round as
  * `BENCH_r<N>_medians.json`) so per-query medians are diffable from
  * committed artifacts alone; subset (ONLY) runs never overwrite it.
  *
  * SPARK_GRAFT_BENCH_ONLY=name1,name2 restricts the run to a subset of
  * catalog entries — an iteration aid for perf work; the driver never
  * sets it. Subset runs are marked in both side-file bodies
  * (`"only":[...]`) so a stale subset file cannot pass for a
  * full-catalog round record, and they skip the degenerate-session
  * budget check (the 0.9 s/query coefficient is calibrated for the
  * full catalog's cost mix — a handful of heavy entries false-trips
  * it) unless SPARK_GRAFT_BENCH_BUDGET is set explicitly.
  */
object Bench {

  /** Whether a committed medians record can be the band base for a
    * run at `sfDir` with `cpus` Spark cores: same SF, same
    * `spark_cpus` (bands from a 32-core record would stamp a clean
    * 4-core run contended), and not itself stamped contended. A
    * record that does not carry `spark_cpus` never matches.
    */
  private[graft] def isBandRecord(text: String, sfDir: String, cpus: String): Boolean =
    text.contains(s""""sf":"$sfDir"""") &&
      "\"spark_cpus\":(\\d+)".r.findFirstMatchIn(text)
        .exists(_.group(1) == cpus.trim) &&
      !text.contains("\"contended\":true")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: exercise parquet scan + shuffle + codegen + noop
    // write once so the first timed query isn't charged JIT/classloading
    graft.queries.Queries.catalog.headOption.foreach { e =>
      try e.build(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
    }
    // per-query MEDIAN of 3 consecutive runs: single-shot timings moved
    // ±20% round-over-round with no code change (bimodal JIT compilation
    // of large generated methods — see BASELINE.md); the median drops
    // the odd cold/deopt run so round-over-round comparisons track code,
    // not noise. Stable iteration order keeps timings comparable.
    val repsRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3")
    val reps = repsRaw.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_REPS must be an integer >= 1, got '$repsRaw'"))
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val entry = graft.queries.Queries.catalog.map(e => e.name -> e).toMap
    val (only, selected) = SparkEntry.subset("SPARK_GRAFT_BENCH_ONLY")
    // catalog-derived degenerate-session budget (see scaladoc); the env
    // var remains an explicit override for experiments
    val nIo = selected.keys.count(entry(_).io)
    val defaultBudget = 0.9 * selected.size + 4.0 * nIo
    val budget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.toDouble).getOrElse(defaultBudget)

    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 // sentinel: a failed query must not read as a fast one
      }
    }
    val ordered = selected.toSeq.sortBy(_._1)
    val doWarmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    // warmup times per query (pass-1 discarded reps), kept for the side
    // file so the JIT/checkpoint cost stays visible even though it no
    // longer pollutes the medians
    val warmupTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    // MACHINE CONTENTION is recorded, not inferred (r14: the driver's
    // official session was sick:true purely from probe-session CPU
    // overlap, attributable only by forensic rep-pattern analysis):
    // /proc/loadavg's 1-min average is sampled after every timed rep.
    // A healthy bench's own load is ~the local[cpus] thread count, so
    // anything well above cpus is OTHER work sharing the box — the
    // session-level median against `loadHotThreshold` makes a
    // contended run self-describing in the artifact.
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val repLoads = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    def runPass(warm: Boolean): Seq[(String, Seq[Double])] =
      ordered.map { case (name, fn) =>
        if (warm) {
          val ws = (1 to entry(name).warmups).map(_ => timeOnce(name, fn))
          // a failed warmup must keep the failure-sentinel semantics:
          // summing -1.0 into a multi-warmup total (10+12-1=21) would
          // hide the failure in the side file — record -1.0 instead
          warmupTimes(name) = if (ws.exists(_ < 0)) -1.0 else ws.sum
        }
        name -> (1 to reps).map { _ =>
          val t = timeOnce(name, fn)
          repLoads(name) = repLoads.getOrElse(name, Vector.empty) :+ loadAvg()
          t
        }
      }
    // ANY failed rep keeps the failure sentinel: an intermittently
    // failing query must not report its lone success as a healthy time
    def median(times: Seq[Double]): Double = {
      val sorted = times.sorted
      if (sorted.head < 0) -1.0 else sorted(sorted.size / 2)
    }
    def total(ms: Seq[(String, Double)]): Double = ms.map(_._2).filter(_ >= 0).sum

    val pass1 = runPass(warm = doWarmup)
    val medians1 = pass1.map { case (n, ts) => n -> median(ts) }
    // the 0.9 s/query budget is calibrated against the FULL catalog's
    // cost mix; a subset run of a few heavy entries false-trips it and
    // doubles the iteration loop, so ONLY runs skip the degenerate-
    // session check unless the experimenter set an explicit budget
    val checkBudget = only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_BUDGET")
    val sick = checkBudget && total(medians1) > budget
    val (allReps, medians, passes) =
      if (!sick) (pass1, medians1, 1)
      else {
        System.err.println(
          f"[bench] pass-1 total ${total(medians1)}%.1f s exceeds budget $budget%.1f s " +
            "— degenerate JIT session suspected; running a second full pass")
        val pass2 = runPass(warm = false)
        val medians2 = pass2.map { case (n, ts) => n -> median(ts) }
        // min-of-medians: a failed query (-1) stays failed only if it
        // failed in BOTH passes; a query healthy in either pass reports
        // its healthy time
        val merged = medians1.zip(medians2).map { case ((n, a), (_, b)) =>
          n -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
        }
        val reps12 = pass1.zip(pass2).map { case ((n, t1), (_, t2)) => n -> (t1 ++ t2) }
        (reps12, merged, 2)
      }

    def jNum(d: Double): String = if (d.isNaN || d.isInfinite) "-1.0" else d.toString
    // Per-query data goes to side files, NOT the stdout summary line:
    // the driver tail-captures ~2 KB of stdout, and both an inlined
    // per-rep blob (r5) and the bare 81-query medians map (r8) overflowed
    // it -> BENCH parsed:null. The stdout line carries scalars only.
    def writeSide(envVar: String, default: String, body: String): String = {
      val path = java.nio.file.Paths.get(sys.env.getOrElse(envVar, default))
      // the summary must not point at a side file that failed to write
      // (or worse, a stale one from a previous run) — report null then
      try {
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(path, body.getBytes("UTF-8"))
        s"\"$path\""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write side file $path: ${e.getMessage}")
        "null"
      }
    }
    // subset-run marker: a SPARK_GRAFT_BENCH_ONLY run overwrites the
    // default side files; without this field a stale subset file could
    // be mistaken for a full-catalog round record
    val onlyJson = only match {
      case Some(names) => names.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      case None => "null"
    }
    // a failed query's -1 sentinel is excluded from the total, so the
    // headline number alone cannot reveal a broken query — n_failed > 0
    // means the bench total is NOT comparable across rounds
    val nFailed = medians.count(_._2 < 0)
    // Per-entry session-sickness flag (r10→r11): a rep >3x its sibling
    // reps within one entry is the degenerate-JIT signature at
    // single-entry granularity — the session-level budget
    // check can miss it when the rest of the catalog is healthy (r10:
    // the cluster-safe split's reps 6.65/5.81/29.56 inside a sick:false
    // session). Sub-second entries are exempt: 3x of 0.05 s is noise,
    // not sickness. The median already absorbs the outlier; this makes
    // it machine-visible in the artifact instead of narrative-only.
    val repOutliers = allReps.collect {
      case (n, ts) if {
        val pos = ts.filter(_ >= 0)
        pos.size >= 2 && pos.max > 1.0 && pos.max > 3.0 * pos.min
      } => n
    }
    val repOutliersJson =
      repOutliers.map("\"" + _ + "\"").mkString("[", ",", "]")
    val repsJson = allReps.map { case (k, ts) =>
      s"\"" + k + "\":[" + ts.map(jNum).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val warmupJson = warmupTimes.map { case (k, v) => s"\"" + k + "\":" + jNum(v) }
      .mkString("{", ",", "}")
    // per-rep 1-min loadavg samples (parallel to each query's reps
    // array) + session stats: a contended session is attributable from
    // the artifact alone instead of by rep-pattern forensics
    val loadSamples = repLoads.values.flatten.filter(_ >= 0).toSeq.sorted
    val (loadMin, loadMedian, loadMax) =
      if (loadSamples.isEmpty) (-1.0, -1.0, -1.0)
      else (loadSamples.head, loadSamples(loadSamples.size / 2), loadSamples.last)
    // the bench's own steady load is ~cpus runnable threads; a median
    // well past that means other work shared the box for most of the run
    val loadHotThreshold = cpus.toDouble * 1.5 + 2.0
    val loadHot = loadMedian > loadHotThreshold
    if (loadHot) System.err.println(
      f"[bench] session CONTENDED: median 1-min loadavg $loadMedian%.1f over " +
        f"${loadSamples.size} reps exceeds $loadHotThreshold%.1f " +
        f"(local[$cpus] bench alone sits near $cpus) — timings in this " +
        "artifact reflect a shared machine, not the code")
    val loadStatsJson =
      s"""{"cpus":$cpus,"min":${jNum(loadMin)},"median":${jNum(loadMedian)},""" +
        s""""max":${jNum(loadMax)},"hot_threshold":${jNum(loadHotThreshold)},"hot":$loadHot}"""
    val repLoadsJson = repLoads.map { case (k, ls) =>
      s"\"" + k + "\":[" + ls.map(jNum).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val repsRef = writeSide("SPARK_GRAFT_BENCH_REPS_FILE", "target/bench_reps.json",
      s"""{"sf":"$sfDir","passes":$passes,"sick":$sick,"only":$onlyJson,"rep_outliers":$repOutliersJson,"load":$loadStatsJson,"rep_loads":$repLoadsJson,"warmup":$warmupJson,"reps":$repsJson}""")
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + jNum(v) }
      .mkString("{", ",", "}")
    val ioJson = ordered.map(_._1).filter(entry(_).io).map("\"" + _ + "\"").mkString("[", ",", "]")
    val ioSec = medians.collect { case (n, v) if v >= 0 && entry(n).io => v }.sum
    // one-time shared-artifact build cost (pair graph, shingle
    // projection, passage spans, fuzzy pairs — the per-corpus-refresh
    // cost the steady-state medians ride on): first-class summary
    // field, not a footnote buried in the discarded warmup sum
    val artifactSec = graft.queries.Queries.artifactBuildSeconds
    val artifactBreakdown = graft.queries.Queries.artifactBuildBreakdown.toSeq
      .sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + jNum(v) }
      .mkString("{", ",", "}")
    // MEDIANS-OF-RECORD GUARDRAIL (r16: the committed medians file
    // carried a 4x machine-contention artifact and became the diff
    // base for the next round). Compare this run's per-entry medians
    // against the newest committed BENCH_r<N>_medians.json; when the
    // session's load was hot OR many entries sit far outside their
    // recorded bands (>2x AND >1 s over), stamp the body
    // "contended":true — the run still produces its artifact, but a
    // contended session can never pass for a clean record.
    val nBandOutliers: Int = {
      // the committed records live at the REPO ROOT, not the cwd: a
      // bench launched from anywhere else silently degraded to
      // nBandOutliers=0 (r17 advice) — resolve the root explicitly
      // (env override, else walk up to the dir holding build.sbt) and
      // say so when no clean record is found instead of swallowing
      val repoRoot: Option[java.nio.file.Path] =
        sys.env.get("SPARK_GRAFT_REPO_ROOT")
          .map(java.nio.file.Paths.get(_))
          .orElse {
            Iterator.iterate(
              java.nio.file.Paths.get(".").toAbsolutePath.normalize)(_.getParent)
              .takeWhile(_ != null).take(6)
              .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
          }
      val prev: Option[Map[String, Double]] =
        try {
          val rx = "BENCH_r(\\d+)_medians\\.json".r
          import scala.jdk.CollectionConverters._
          repoRoot.flatMap { root =>
            val listing = java.nio.file.Files.list(root)
            val candidates =
              try listing.iterator().asScala.flatMap { p =>
                p.getFileName.toString match {
                  case rx(n) => Some(n.toInt -> p)
                  case _ => None
                }
              }.toSeq.sortBy(-_._1)
              finally listing.close()
            // newest committed record that is itself CLEAN (same SF and
            // cpus, not stamped contended) — a flagged run must never
            // become the band base any more than it may become the record
            candidates.iterator.map { case (_, p) =>
              new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            }.find(isBandRecord(_, sfDir, cpus)).map { text =>
              // the medians map is flat name:number — a targeted regex
              // over the "queries" suffix avoids a JSON dependency
              val body = text.indexOf("\"queries\":") match {
                case i if i >= 0 => text.substring(i)
                case _ => text
              }
              "\"([A-Za-z0-9_]+)\":(-?\\d+(?:\\.\\d+)?(?:[eE]-?\\d+)?)".r
                .findAllMatchIn(body)
                .map(m => m.group(1) -> m.group(2).toDouble).toMap
            }
          }
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] medians guardrail could not read a committed record: ${e.getMessage}")
          None
        }
      if (prev.isEmpty) System.err.println(
        s"[bench] medians guardrail found no clean committed BENCH_r<N>_medians.json " +
          s"for sf $sfDir at $cpus cpus under ${repoRoot.getOrElse("<unresolved repo root>")} — " +
          "band check skipped (nBandOutliers=0)")
      prev.fold(0)(p => medians.count { case (n, v) =>
        // io entries carry the tighter 1.5x band: their medians are
        // exactly the class where a ~2x session artifact slipped into
        // the record one round after the 2x guardrail shipped
        // (the int8 index-grow entry at 9.57 vs 4.43 s isolated, r17
        // finding #1)
        val factor = if (entry(n).io) 1.5 else 2.0
        v >= 0 && p.get(n).exists(b => b >= 0 && v > math.max(factor * b, b + 1.0))
      })
    }
    val contended = loadHot || nBandOutliers > 15
    if (contended) System.err.println(
      s"[bench] medians flagged CONTENDED (load_hot=$loadHot, " +
        s"band_outliers=$nBandOutliers vs committed record) — this " +
        "run's medians file must not become the record of a clean round")
    // record the session's parallelism: an r18 near-miss had a local[4]
    // run (env var unset) almost become the record because nothing in
    // the artifact said what master the numbers were measured under
    val mediansBody =
      s"""{"metric":"total","value":${total(medians)},"unit":"sec","sf":"$sfDir","spark_cpus":$cpus,"passes":$passes,"sick":$sick,"contended":$contended,"n_band_outliers":$nBandOutliers,"n_failed":$nFailed,"only":$onlyJson,"rep_outliers":$repOutliersJson,"load":$loadStatsJson,"io_sec":$ioSec,"artifact_sec":${jNum(artifactSec)},"artifact_breakdown":$artifactBreakdown,"io_queries":$ioJson,"queries":$qs}"""
    val mediansRef = writeSide("SPARK_GRAFT_BENCH_MEDIANS_FILE", "target/bench_medians.json",
      mediansBody)
    // committed per-round provenance (r11 verdict #2): full-catalog runs
    // also write the medians body to a repo-root file the round-close
    // commit picks up, so the next round can diff per-query medians from
    // committed artifacts alone. Subset (ONLY) runs must never overwrite
    // the full-catalog record.
    if (only.isEmpty) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_latest_medians.json"),
        mediansBody.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write BENCH_latest_medians.json: ${e.getMessage}")
      }
    }
    def summaryLine(mediansJ: String, repsJ: String): String =
      s"""{"metric":"total","value":${total(medians)},"unit":"sec","sf":"$sfDir",""" +
        s""""spark_cpus":$cpus,""" +
        s""""n_queries":${medians.size},"n_failed":$nFailed,"passes":$passes,"sick":$sick,""" +
        s""""contended":$contended,"n_band_outliers":$nBandOutliers,""" +
        s""""io_sec":$ioSec,"io_n":$nIo,""" +
        s""""artifact_sec":${jNum(artifactSec)},""" +
        s""""n_rep_outliers":${repOutliers.size},""" +
        s""""load_median":${jNum(loadMedian)},"load_hot":$loadHot,""" +
        s""""medians_file":$mediansJ,"reps_file":$repsJ}"""
    // the line must fit the driver's ~2 KB stdout tail window; it is
    // scalars + two paths by design, so overflow can only come from
    // absurd env-var path overrides — drop the path refs rather than
    // throwing away a completed benchmark (the files are still written)
    val line = {
      val full = summaryLine(mediansRef, repsRef)
      if (full.length < 1500) full
      else {
        System.err.println(s"[bench] summary line ${full.length} bytes — omitting side-file paths to stay under the driver tail window")
        summaryLine("null", "null")
      }
    }
    println(line)
    spark.stop()
  }
}
