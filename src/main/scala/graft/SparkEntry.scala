package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The catalog lives in [[graft.queries.Queries]]; this object is the
  * stable harness surface.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the compiled validation-rule set + split summary over lineitem
    * (the engine's signature dataflow) and returns the error fan-out.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("p9_error_fanout")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables: every catalog entry declares one next to
    * its plan. */
  def oracleSql: Map[String, String] = graft.queries.Queries.oracleSql

  /** The session every catalog runner and the specs use: `local[cpus]`
    * with as many shuffle partitions, UTC, UI off, and ANSI off because
    * the rule semantics rely on cast-returns-null for malformed input
    * (NUMERIC/DATE_FORMAT error routing), not ANSI cast errors. Callers
    * add their own `.config` before `getOrCreate()`.
    */
  def sessionBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** The entries a `*_ONLY` variable names (comma-separated), or every
    * entry when `envVar` is unset; the first value is the parsed name
    * set. An exported-but-empty variable fails like a typo does: a
    * zero-entry run would look healthy.
    */
  def subset(envVar: String)
      : (Option[Set[String]], Map[String, (SparkSession, String) => DataFrame]) = {
    val only = sys.env.get(envVar).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty, s"$envVar is set but names no queries")
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, s"$envVar names not in catalog: ${unknown.mkString(",")}")
    }
    (only, only.fold(queries)(names => queries.view.filterKeys(names).toMap))
  }
}
