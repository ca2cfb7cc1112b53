package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Work-proportionality counters for the decade-probe watch list — the
  * names whose sfx100/sfx10 wall-clock ratios drift upward decade over
  * decade (r15 verdict #3). A growing TIME ratio only indicates a
  * super-linear ALGORITHM if the underlying work unit grows slower:
  * this tool measures the work units themselves (pair-expansion
  * volume, true output pairs, block occupancy, shuffle row counts) at
  * any derived scale dir, so each watch name's time curve can be
  * divided by its work curve. Run per scale step:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_scale/sfx10 sbt "runMain graft.tools.AsymProbe"
  *
  * Prints one JSON line per family; counters are exact counts
  * (deterministic — two runs agree bit-for-bit).
  */
object AsymProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.SparkEntry.sessionBuilder(cpus)
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def tbl(n: String) = spark.read.parquet(s"$sfDir/$n.parquet")

    // --- x_dedup_containment: the counting filter's pair-expansion
    // volume is Σ C(cnt, 2) over shingle-hash buckets (cnt capped at
    // maxPostings), and the emitted pair set is the true containment
    // pair graph — both are the operator's work units.
    {
      val proj = graft.operators.Dedup.shingleProjection(
        tbl("documents"), "doc_id", "text", 3)
      val occ = proj.select(col("id"),
        explode(transform(col("sh"), sh => xxhash64(sh))).as("bucket"))
      val r = occ.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(when(col("cnt").between(2, 1000),
            (col("cnt") * (col("cnt") - 1) / 2).cast(LongType))
            .otherwise(0L)).as("expansion"),
          sum(when(col("cnt") > 1000, 1L).otherwise(0L)).as("overflow_buckets"),
          max(col("cnt")).as("max_df"),
          count(lit(1)).as("n_buckets"))
        .collect()(0)
      val pairs = graft.operators.Dedup.ngramContainmentFromShingles(
        proj, threshold = 0.7, maxPostings = 1000, metric = "asym_containment")
        .count()
      println(s"""{"family":"containment","sf":"$sfDir","expansion":${r.getLong(0)},"overflow_buckets":${r.getLong(1)},"max_df":${r.getLong(2)},"n_buckets":${r.getLong(3)},"true_pairs":$pairs}""")
    }

    // --- dedup-index probe path (r19 verdict ask #6): the candidate
    // frame minHashProbeIndex localCheckpoints (r18) must stay bounded
    // by banding collisions — near-dup-pair-proportional, never
    // corpus-proportional — or the checkpoint itself becomes the spill
    // hazard at scale. Counters at the x_dedup_incremental shape
    // (index = 4/5 of docs, probe batch = 1/5): materialized candidate
    // rows, capped postings rows the join scans, batch rows, and the
    // verified pair count.
    {
      val docs = tbl("documents").select(col("doc_id"), col("text"))
      val idx = java.nio.file.Files.createTempDirectory("asym_dedup_idx_")
      graft.operators.Dedup.writeMinHashIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text",
        idx.toString, mode = "overwrite")
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val batchSh = graft.operators.Dedup.shingleProjection(
        batch, "doc_id", "text", 3).withColumnRenamed("id", "batch_id")
      val candidates = graft.operators.Dedup.probeCandidates(
        spark, batchSh, idx.toString, numHashes = 64, bands = 16,
        maxBucket = 1000).count()
      val postings = spark.read.parquet(s"$idx/bands")
        .filter(col("bucket_size") <= 1000).count()
      val verified = graft.operators.Dedup.minHashProbeIndex(
        spark, batch, "doc_id", "text", idx.toString, threshold = 0.5).count()
      val nBatch = batch.count()
      println(s"""{"family":"dedup_index_probe","sf":"$sfDir","batch_rows":$nBatch,"postings_rows":$postings,"candidate_rows":$candidates,"verified_pairs":$verified}""")
    }

    // --- fuzzy_pairs artifact: per blocking pass, block count /
    // occupancy / within-block candidate volume Σ C(sz, 2) (sz <=
    // maxBlock=1000), plus each pass's emitted pair count.
    {
      val all = graft.queries.Queries.fuzzyTitles(spark, sfDir)
      def passStats(name: String, key: org.apache.spark.sql.Column): String = {
        val s = all.select(key.as("blk")).filter(col("blk").isNotNull)
          .groupBy(col("blk")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_blocks"), max(col("sz")).as("max_block"),
            sum(when(col("sz") <= 1000,
              (col("sz") * (col("sz") - 1) / 2).cast(LongType))
              .otherwise(0L)).as("candidates"))
          .collect()(0)
        val pairs = graft.operators.Dedup.editDistancePairs(
          all, "doc_id", "title", key, maxDist = 2).count()
        s""""$name":{"n_blocks":${s.getLong(0)},"max_block":${s.getLong(1)},"candidates":${s.getLong(2)},"pairs":$pairs}"""
      }
      val p = passStats("prefix", substring(col("title"), 1, 6))
      val q = passStats("suffix",
        expr("substring(title, greatest(1, length(title) - 5), 6)"))
      println(s"""{"family":"fuzzy","sf":"$sfDir",$p,$q}""")
    }

    // --- x_open_orders: the sweep's work units — matched order count
    // (delta rows are exactly 2×), distinct (prio, day) rows (the
    // window's state AND output), and the day span.
    {
      val o = tbl("orders").select(col("o_orderkey"),
        col("o_orderpriority").as("prio"),
        expr("datediff(to_date(o_orderdate), date '1970-01-01')")
          .cast(LongType).as("d0"))
      val close = tbl("lineitem").groupBy(col("l_orderkey"))
        .agg(max(expr("datediff(to_date(l_shipdate), date '1970-01-01')"))
          .cast(LongType).as("d1"))
      val iv = o.join(close, col("o_orderkey") === col("l_orderkey"))
      val matched = iv.count()
      val pd = iv.select(col("prio"), col("d0").as("day"))
        .unionAll(iv.select(col("prio"), (col("d1") + 1L).as("day")))
        .distinct().count()
      val span = iv.agg((max(col("d1")) - min(col("d0"))).as("span"))
        .collect()(0).getLong(0)
      println(s"""{"family":"open_orders","sf":"$sfDir","matched_orders":$matched,"prio_day_rows":$pd,"day_span":$span}""")
    }

    // --- x_tfidf_topk: the three token-keyed shuffles' row volumes —
    // (doc, token) tf rows, distinct tokens, the hottest token's df
    // (join-skew hazard), and total token instances (explode volume).
    {
      val docs = tbl("documents")
      val tf = graft.operators.TextAnalysis.termFrequencies(docs, "doc_id", "text")
      val r = tf.agg(count(lit(1)).as("tf_rows"),
          sum(col("tf")).as("token_instances")).collect()(0)
      val d = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("n_tokens"), max(col("df")).as("max_df"))
        .collect()(0)
      println(s"""{"family":"tfidf","sf":"$sfDir","tf_rows":${r.getLong(0)},"token_instances":${r.getLong(1)},"n_tokens":${d.getLong(0)},"max_df":${d.getLong(1)}}""")
    }

    spark.stop()
  }
}
