package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry, declared once: its name, the plan it builds, the
  * DuckDB oracle that must return the same rows, and the two traits
  * Bench reads.
  *
  * @param build   the entry's plan over `(session, dataset dir)`
  * @param oracle  DuckDB SQL over the same parquet tables (the compare
  *                registers each table name as a view over
  *                `<dataset dir>/<name>.parquet`)
  * @param io      the entry's time is not plan work alone: it writes and
  *                reads back real files, or it replays a stream whose time
  *                is micro-batch and state-store machinery. Bench reports
  *                these under `io_queries`/`io_sec`, adds 4 s each to its
  *                degenerate-session budget and holds them to the tighter
  *                1.5x band against the medians of record.
  * @param warmups discarded executions Bench runs before the timed reps;
  *                above 1 for entries whose JIT warm-up spans several runs
  */
final case class CatalogEntry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    io: Boolean = false,
    warmups: Int = 1)

object CatalogEntry {

  /** `entries` as given, once no name repeats: a map keyed by name keeps
    * one of two entries with the same name and drops the other without
    * a word.
    */
  private[queries] def distinct(entries: Seq[CatalogEntry]): Seq[CatalogEntry] = {
    val repeated = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty,
      s"catalog entries declared more than once: ${repeated.toSeq.sorted.mkString(",")}")
    entries
  }
}
