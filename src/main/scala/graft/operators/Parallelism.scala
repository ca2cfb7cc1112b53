package graft.operators

import org.apache.spark.sql.DataFrame

private[graft] object Parallelism {

  /** Widen a COMPUTE-DENSE stage's input to the session's parallelism
    * when the FILE LAYOUT under-parallelizes its scan: a
    * single-row-group parquet file (every bench input) is read by ONE
    * task, so per-row kernel or expansion work fused above the scan
    * (PQ encode, brute-force kNN pairs, text-scoring kernels, Expand
    * nodes) runs on one core while the rest of the session idles. The
    * widening shuffle moves the skinny input rows once, amortized by
    * the per-row work it parallelizes, and is SKIPPED whenever the
    * source already carries enough partitions — the 100 TB case, where
    * maxPartitionBytes supplies scan splits and this is the identity.
    *
    * Apply it only where measurement shows the per-row work outweighs
    * the exchange (r19 measured both ways: LSH banding, partial-agg
    * shapes and ≤ 20-query audit batches lost), and only to stages
    * whose results are partitioning-independent (exact integer/decimal
    * aggregates, per-row projections, total-order ranking).
    */
  def widen(df: DataFrame): DataFrame = {
    val have = df.rdd.getNumPartitions
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (have < want) df.repartition(want) else df
  }
}
