package graft.tools

/** Print a catalog entry's EXECUTED physical plan (post-AQE, with
  * reuse/exchange nodes resolved) after running it once — the audit
  * surface for "does this union reuse its join?", "did the filter push
  * down?", "is there a cartesian?" questions the per-entry scale
  * arguments rest on.
  *
  *   sbt "runMain graft.tools.PlanDump x_open_orders /root/testdata/sf0.001"
  *
  * Multiple entries run in one JVM (comma-separated first arg). When
  * SPARK_GRAFT_PLAN_OUT is set to a directory, each entry's
  * explain("formatted") output PLUS its executed (post-AQE) plan is
  * written to `<dir>/<entry><suffix>.txt` (suffix from
  * SPARK_GRAFT_PLAN_SUFFIX, e.g. `_before` / `_after` for the round's
  * committed plan evidence) instead of stdout.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <entry[,entry...]> [sfDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.SparkEntry.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val text =
        s"=== $name @ $sfDir ===\n\n--- explain(formatted) ---\n" +
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode) +
          "\n--- executed plan (post-AQE) ---\n" +
          df.queryExecution.executedPlan.toString
      outDir match {
        case Some(dir) =>
          val p = java.nio.file.Paths.get(dir, s"$name$suffix.txt")
          Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.write(p, text.getBytes("UTF-8"))
          println(s"[plandump] wrote $p")
        case None => println(text)
      }
    }
    spark.stop()
  }
}
