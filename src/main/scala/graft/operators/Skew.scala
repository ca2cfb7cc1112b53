package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot-key workloads.
  *
  * At 100 TB a handful of hot keys (the empty document, a default
  * product code, a null-ish timestamp) can funnel a large fraction of a
  * shuffle into one task. Spark's AQE rebalances skewed JOINS
  * automatically, but skewed AGGREGATIONS with non-algebraic state and
  * skewed `collect_list`-style buckets still need explicit salting.
  */
object Skew {

  /** Two-stage salted aggregation: counts per key when one key may own
    * a large share of all rows.
    *
    * Stage 1 groups on (key, salt) — the hot key spreads over `salts`
    * reducers; stage 2 sums the per-salt partials on the key alone.
    * Both stages are algebraic hash-aggs with map-side partials, so the
    * second shuffle carries at most `salts` rows per distinct key.
    */
  def saltedCount(df: DataFrame, keyCols: Seq[String], salts: Int = 16): DataFrame = {
    df.withColumn("__salt", (rand(7) * salts).cast("int"))
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__partial")).as("cnt"))
  }

  /** Salted distinct-count (exact): stage 1 dedups within (key, hash
    * bucket of value); stage 2 counts per key. The value hash spreads a
    * hot key's distinct set across `salts` reducers deterministically —
    * correctness does not depend on the salt, only parallelism does.
    */
  def saltedDistinctCount(
      df: DataFrame, keyCols: Seq[String], valueCol: String, salts: Int = 16
  ): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(col(valueCol)), lit(salts.toLong)))
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(count_distinct(col(valueCol)).as("__partial"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__partial")).as("distinct_cnt"))

  /** Broadcast-salted join for a skewed LEFT side against a small-ish
    * right side: the right side is replicated `salts` times (explode),
    * the left side picks a random salt — every hot-key row still finds
    * its match, but the join key space is `salts`× wider so one reducer
    * no longer owns the hot key. Use when AQE skew-join cannot kick in
    * (e.g. the join must shuffle for a later stage's partitioning).
    */
  def saltedJoin(
      left: DataFrame, right: DataFrame, key: String, salts: Int = 16
  ): DataFrame = {
    val saltedLeft = left.withColumn("__salt", (rand(11) * salts).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }
}
