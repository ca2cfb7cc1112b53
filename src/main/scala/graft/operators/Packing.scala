package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence packing for pretraining batches: concatenate-and-chunk
  * bin assignment, deterministically.
  *
  * Semantics (the standard pretraining pack): within each
  * `partitionCol` group, documents are laid out head-to-tail in
  * `idCol` order and the resulting token stream is cut into
  * `maxTokensPerBin`-sized chunks. `bin` is the chunk a document
  * STARTS in and `bin_offset` its token position there — a document
  * crossing a boundary continues into the next chunk, exactly how a
  * concat-then-split-at-max_len data loader consumes it. Every bin
  * except each group's last is exactly full. Deterministic in
  * (partition key, id) — no RNG, stable across retries.
  *
  * Plan shape: ONE partitioned window (running sum over the partition
  * key, ordered by id) — per-key state only, no global ordering, no
  * unpartitioned window. The partition key should be whatever the
  * training mix groups by anyway (language, source, split); keys'
  * groups pack independently, which is exactly what a per-source
  * curriculum wants.
  */
object Packing {

  /** Length-bucketed batch assignment — the padding minimizer for
    * fixed-batch inference/eval: sort sequences by length (id
    * tie-break) and cut the order into `batchSize`-row batches, so
    * each batch's rows pad to a NEARBY max instead of the global one.
    * Returns (idCol, lenCol, batch_id).
    *
    * Global contiguous numbering is inherently a global sort, but it
    * does NOT need a single-task window: the rows are range-partitioned
    * and sorted on (len, id) — Spark's distributed sort — and the
    * per-partition row COUNTS (one long per partition, the bounded
    * driver payload) turn local indexes into global ones inside one
    * `mapPartitions` pass. Contrast `row_number() OVER (ORDER BY …)`,
    * which funnels the whole table through one task's window.
    * Deterministic in (len, id); null lengths sort first (batch with
    * the shortest — oracle SQL must say NULLS FIRST, DuckDB defaults
    * to NULLS LAST); null ids are rejected with a clear error.
    */
  def lengthBatches(
      df: DataFrame,
      idCol: String,
      lenCol: String,
      batchSize: Int
  ): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = df.sparkSession
    val sorted = df
      .select(col(idCol).cast(LongType).as("id"),
        col(lenCol).cast(LongType).as("len"))
      .repartitionByRange(col("len"), col("id"))
      .sortWithinPartitions(col("len"), col("id"))
    val withIdx = sorted.rdd.zipWithIndex() // one count job + one pass
    val out = spark.createDataFrame(
      withIdx.map { case (r, idx) =>
        // null lengths are legal (sort first, batch with the shortest);
        // null ids are not — fail loudly instead of NPEing in getLong
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"lengthBatches: null $idCol — ids must be non-null")
        org.apache.spark.sql.Row(
          r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1),
          idx / batchSize)
      },
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("len", LongType, nullable = true),
        StructField("batch_id", LongType, nullable = false))))
    out.withColumnRenamed("id", idCol).withColumnRenamed("len", lenCol)
  }

  /** Per-batch padding stats over [[lengthBatches]] output: rows, max
    * length, and the fraction of a (batchSize × max_len) dense batch
    * that would be padding. Integer aggregates + one IEEE division —
    * hash-oracle-stable.
    */
  def batchPaddingStats(batches: DataFrame, lenCol: String): DataFrame =
    batches
      .groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("n_seqs"),
        max(coalesce(col(lenCol), lit(0L))).as("max_len"),
        sum(coalesce(col(lenCol), lit(0L))).as("sum_len"))
      .withColumn("padding_frac",
        when(col("max_len") > 0,
          (col("max_len") * col("n_seqs") - col("sum_len")).cast(DoubleType) /
            (col("max_len") * col("n_seqs")).cast(DoubleType))
          .otherwise(lit(0.0)))

  /** Adds `bin` (0-based within the partition key) and `bin_offset`
    * (token offset of this doc within its bin). NULL token counts pack
    * as zero-width (coalesced — a NULL must not poison the row's own
    * bin while the window sum skips it for everyone else).
    *
    * `bin`, `bin_offset`, and `__running_before` are reserved output/
    * scratch names — an input that already carries one would be
    * silently overwritten by `withColumn`, so it is rejected instead.
    */
  def packBins(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      maxTokensPerBin: Long,
      partitionCol: String
  ): DataFrame = {
    require(maxTokensPerBin > 0, "maxTokensPerBin must be positive")
    Seq("bin", "bin_offset", "__running_before").foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a column named '$c' (reserved by packBins)")
    }
    val tok = coalesce(col(tokenCol).cast(LongType), lit(0L))
    val w = Window.partitionBy(col(partitionCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // `div` = IntegralDivide: exact at any magnitude — a double-division
    // floor() would round the wrong way within an ulp of a bin boundary
    // once running sums approach 2^53
    df
      .withColumn("__running_before", sum(tok).over(w) - tok)
      .withColumn("bin", expr(s"__running_before div ${maxTokensPerBin}L"))
      .withColumn("bin_offset",
        col("__running_before") - col("bin") * maxTokensPerBin)
      .drop("__running_before")
  }
}
