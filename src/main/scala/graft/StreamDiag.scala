package graft

/** Diagnostic main for the streaming-fold per-replay cost growth seen in
  * round 18: executes one catalog entry N times in a single JVM and
  * prints, per execution, wall time plus the JVM counters that could
  * explain monotone growth (JIT compilation time, code-cache occupancy,
  * loaded classes, live threads, heap after a suggested GC). Run:
  *
  *   SPARK_GRAFT_DIAG_Q=x_stream_salted_counts SPARK_GRAFT_DIAG_N=12 \
  *     sbt "runMain graft.StreamDiag"
  *
  * Not part of the driver surface; a forensic tool only.
  */
object StreamDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = sys.env.getOrElse("SPARK_GRAFT_DIAG_Q", "x_stream_salted_counts")
    val n = sys.env.getOrElse("SPARK_GRAFT_DIAG_N", "12").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.sessionBuilder(cpus)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "100"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(q)
    import java.lang.management.ManagementFactory
    val comp = ManagementFactory.getCompilationMXBean
    val cls = ManagementFactory.getClassLoadingMXBean
    val thr = ManagementFactory.getThreadMXBean
    val pools = ManagementFactory.getMemoryPoolMXBeans
    import scala.jdk.CollectionConverters._
    def codeCacheMb: Double = pools.asScala
      .filter(_.getName.toLowerCase.contains("codeheap"))
      .map(_.getUsage.getUsed / 1e6).sum
    def metaMb: Double = pools.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed / 1e6).sum
    // Spark JOB count per execution — the noise-immune work-shape
    // counter (a per-micro-batch job removed shows up here as a
    // deterministic delta even when host wall-clock drifts)
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })
    println(f"exec  wall_s  jobs  jitms_d  codecache_mb  meta_mb  classes  threads")
    var prevJit = comp.getTotalCompilationTime
    for (i <- 1 to n) {
      val jobs0 = jobCount.get()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events are async — give the bus a beat to drain
      // (job-start events trail the action by ms, not seconds)
      Thread.sleep(200)
      val jit = comp.getTotalCompilationTime
      println(f"$i%4d  $dt%6.2f  ${jobCount.get() - jobs0}%4d  ${jit - prevJit}%7d  ${codeCacheMb}%12.1f  ${metaMb}%7.1f  ${cls.getLoadedClassCount}%7d  ${thr.getThreadCount}%7d")
      prevJit = jit
      if (i == n) {
        val names = Thread.getAllStackTraces.keySet.asScala.toSeq
          .map(_.getName.replaceAll("[0-9]+", "#"))
          .groupBy(identity).view.mapValues(_.size).toSeq
          .sortBy(-_._2).take(15)
        names.foreach { case (nm, c) => println(f"  $c%5d  $nm") }
      }
    }
    spark.stop()
  }
}
