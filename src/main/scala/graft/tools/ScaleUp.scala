package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seed-stable N× scale-up of a testdata dir — the empirical leg of
  * the 100 TB argument. The plan-shape claims ("bounded window input",
  * "capped buckets", "no n² pair expansion") are verified analytically
  * in scaladocs and PlanSpec; this tool lets a bench run CONFIRM them
  * by deriving a ~10× dataset (sf0.1 → sf~1: 6M lineitem rows) and
  * re-timing the riskiest catalog entries against it (ratios recorded
  * in BASELINE.md's scale-probe table).
  *
  * Derivation (deterministic, no RNG): each table is cross-joined with
  * an N-row replica spine; replica r offsets every key column by
  * r·2^40 so joins stay consistent WITHIN a replica and keys never
  * collide ACROSS replicas. Dims (`region`, `nation`) stay fixed, as
  * in TPC-H scaling. Two perturbations keep workload *character*
  * scale-invariant rather than degenerate:
  *
  *  - `documents.text` (r>0): every 3rd word gets a `~r` suffix, so
  *    EVERY word window of ≥3 words straddles a mutated word — the
  *    engine's shingle projection is word 3-grams (Queries.scala
  *    docShingles), so replicas share ZERO shingles: they are not
  *    near-dups of each other, and — just as important — no shingle's
  *    posting list (document frequency) grows with the replica count.
  *    The corpus dup RATE (the generator's intra-corpus near-dup
  *    pairs, replicated per replica) stays constant with scale instead
  *    of exploding to 90%+ as a verbatim copy would. The period
  *    MATTERS at the second decade: the original period-5 mutation
  *    left 2/5 of 3-gram shingles verbatim across ALL replicas, so
  *    those postings grew ∝ replicas and the counting filter's
  *    per-bucket Σcnt² pair expansion grew ∝ replicas² — at sfx100
  *    that derivation artifact (NOT the operator's constant-df
  *    behavior) produced >1 h straggler tasks in the pair-graph build.
  *    A verbatim-copy input would do the same BY CONSTRUCTION, which
  *    is exactly what this perturbation exists to avoid: the probe
  *    measures the plan's scaling under constant workload character,
  *    i.e. a df profile that does not degenerate as replicas are
  *    added. (Residual: 2-word windows survive with prob 1/3; no
  *    catalog family joins on word-2-gram postings.) The two 6-char
  *    TITLE-KEY windows (chars 1-6 and 25-30 — the fuzzy passes'
  *    prefix and suffix blocking keys over substring(text,1,30)) are
  *    additionally replaced by 6-char hash words of (window value,
  *    replica): v3's `r~` word-0 prefix spent the key's leading chars
  *    on the replica id (coarser within-replica blocks, ~1.7× over
  *    linear candidate growth) and left the SUFFIX key untouched
  *    (replica-invariant blocks, 15.9× candidates/decade, survivable
  *    only because the maxBlock cap bit). Real corpus growth mints
  *    new openings (Heaps' law) — block COUNT grows, the block-size
  *    profile stays put — and the full-entropy window rewrite gives
  *    exactly that: measured 9.97× linear for 10× data on both
  *    passes, sizes invariant, cap never biting.
  *  - `embeddings.embedding` (r>0): per-(vec_id, r, dim) hash jitter
  *    of amplitude 0.5 decorrelates replicas (cosine near-dup pairs
  *    don't multiply across replicas; label structure is preserved).
  *
  * Timestamps are kept verbatim — 10× events in the same wall-clock
  * window is a RATE increase, the realistic scale axis for the
  * sessionize/rolling-window entries.
  *
  * Usage: ScaleUp <inDir> <outDir> [replicas=10]. Output dir carries
  * the same `<table>.parquet` layout, so SPARK_GRAFT_SF_DIR can point
  * at it directly.
  */
object ScaleUp {

  private val Stride = 1L << 40

  /** Derivation-scheme version, stamped into `<outDir>/_derivation.txt`
    * so consumers (tools/scale_probe.py) can detect a dataset derived
    * under an OLDER scheme and regenerate instead of silently comparing
    * legs of different derivations (ratios would then measure
    * derivation drift, not plan scaling). Bump on any change to the
    * perturbation scheme.
    */
  val DerivationVersion = "v4-char24-suffix-window"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <inDir> <outDir> [replicas]")
    val inDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 10
    require(n >= 1 && n <= 1000, s"replicas out of range: $n")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.SparkEntry.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def in(name: String): DataFrame =
      spark.read.parquet(s"$inDir/$name.parquet")

    // `parts` below is calibrated for the 10-replica derivation; larger
    // derivations (sfx100) scale it proportionally so per-file size —
    // and hence scan parallelism per byte — stays constant across
    // decades instead of collapsing 60M lineitem rows into 32 files
    val partScale = math.max(1, n / 10)

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts * partScale).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // replica spine: broadcast 10 rows, each input row fans out N ways
    val reps = broadcast(
      spark.range(n).select(col("id").cast("int").as("__r")))

    val r = col("__r")
    // every derived column carries its source name as an explicit
    // alias — the projection below asserts name-for-name equality with
    // the parquet schema, so a column-order drift in a regenerated
    // testdata file fails loudly instead of silently mislabeling
    // (the old positional .toDF(src.columns) rename)
    def off(c: String): Column = (col(c) + r.cast("long") * lit(Stride)).as(c)
    def tag(c: String): Column =
      when(r === 0, col(c)).otherwise(concat(col(c), lit("#r"), r)).as(c)

    def scale(name: String, parts: Int)(cols: DataFrame => Seq[Column]): Unit = {
      val src = in(name)
      val out = src.crossJoin(reps).select(cols(src): _*)
      require(out.columns.sameElements(src.columns),
        s"$name projection ${out.columns.mkString(",")} != parquet schema " +
          src.columns.mkString(","))
      write(out, name, parts)
    }

    // fixed dims: copy verbatim
    for (dim <- Seq("region", "nation"))
      in(dim).write.mode("overwrite").parquet(s"$outDir/$dim.parquet")

    scale("customer", 4)(_ => Seq(
      off("c_custkey"), tag("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))

    scale("supplier", 1)(_ => Seq(
      off("s_suppkey"), tag("s_name"), col("s_nationkey"), col("s_acctbal")))

    scale("part", 2)(_ => Seq(
      off("p_partkey"), tag("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")))

    scale("orders", 8)(_ => Seq(
      off("o_orderkey"), off("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))

    scale("lineitem", 32)(_ => Seq(
      off("l_orderkey"), off("l_partkey"), off("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))

    scale("events", 16)(_ => Seq(
      off("event_id"), col("ts"), off("user_id"), col("event_type"),
      col("value"), col("props")))

    // documents: replica 0 verbatim; r>0 mutates every 3rd word so
    // every >=3-word window straddles a mutation — zero cross-replica
    // 3-gram shingle overlap, constant posting df (see object scaladoc).
    // v4: the title-window blocking keys get FULL-ENTROPY per-replica
    // rewrites instead of replica-id tags. v3 tagged word 0 with `r~`,
    // which spent 2-4 of the prefix key's 6 characters on the replica
    // id — within-replica block discrimination dropped to the
    // remaining chars, so block sizes coarsened and Σ|block|²
    // candidates grew ~1.7x OVER linear per decade (and the SUFFIX key,
    // last 6 chars of the 30-char title, stayed replica-invariant
    // outright: 15.9x candidates/decade, survivable only because the
    // maxBlock cap bit — the probe was measuring the cap, not the
    // algorithm). Real growth mints NEW words (Heaps' law): block
    // count ∝ corpus, block-size profile constant. The v4 rewrite
    // emulates exactly that — BOTH 6-char key windows (title chars
    // 1-6 and 25-30) are replaced by a 6-char hash word of (their
    // original value, replica). Hashing the WINDOW, not the first
    // word, is load-bearing: short first words make the prefix key
    // straddle a word boundary, so a word-level hash collapses blocks
    // that the window's later characters used to split (measured 17x
    // candidates per decade from exactly that). Docs sharing a window
    // within a replica still share the hash, replicas never collide,
    // so both passes' block counts scale ∝ replicas with invariant
    // size profiles — measured 9.97x linear for 10x data, cap never
    // biting.
    locally {
      val alphabet = array(('a' to 'z').map(c => lit(c.toString)): _*)
      def hashWord(src: Column, salt: Column): Column =
        concat((0 until 6).map { k =>
          element_at(alphabet,
            (pmod(xxhash64(src, salt, lit(k)), lit(26L)) + 1L).cast("int"))
        }: _*)
      val words = split(col("text"), " ")
      val mutated = array_join(
        zip_with(words, sequence(lit(0), size(words) - 1),
          (w, i) => when(pmod(i, lit(3)) === 2, concat(w, lit("~"), r))
            .otherwise(w)),
        " ")
      val stamped = concat(
        hashWord(substring(mutated, 1, 6), r),
        substring(mutated, 7, 18),
        hashWord(substring(mutated, 25, 6), r),
        substring(mutated, 31, Int.MaxValue))
      val newText = when(r === 0 || col("text").isNull, col("text"))
        .otherwise(stamped)
      scale("documents", 8)(_ => Seq(
        off("doc_id"), newText.as("text"), col("lang"), col("source"),
        when(r === 0, col("n_chars"))
          .otherwise(coalesce(length(newText).cast("long"), col("n_chars")))
          .as("n_chars")))
    }

    // embeddings: replica 0 verbatim; r>0 adds per-(id, r, dim) hash
    // jitter in [-0.5, 0.5) so replicas decorrelate
    locally {
      val jittered = zip_with(
        col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x + (pmod(xxhash64(col("vec_id"), r, i), lit(1000L))
          .cast("double") / lit(1000.0) - lit(0.5))
      ).cast("array<float>")
      scale("embeddings", 4)(_ => Seq(
        off("vec_id"),
        when(r === 0, col("embedding")).otherwise(jittered).as("embedding"),
        col("label")))
    }

    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "_derivation.txt"),
      s"$DerivationVersion replicas=$n src=$inDir\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scaleup] wrote ${n}x of $inDir to $outDir")
    spark.stop()
  }
}
