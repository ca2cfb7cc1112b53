package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Compaction/repack for the PERSISTED INDEX layouts (MinHash LSH,
  * int8 IVF, IVF-PQ) — the index-aware sibling of [[Compaction]].
  *
  * Every append cycle ([[graft.operators.Dedup.ingestDedupBatchTo]],
  * [[graft.operators.Ivf.ingestAnnBatchTo]], `Pq.writeIndex` append
  * mode) adds per-batch files under the index's partitioned datasets
  * (`bands/`, `shingles/`, `cells/`). After N micro-batches a
  * continuously-ingesting index fragments exactly like the small-file
  * problem plain-table compaction solves — except an index is not a
  * plain table: it carries partition columns the probes prune on, a
  * `meta.txt` parameter file the probes validate against, and a
  * `last_batch.txt` replay marker the ingest folds consult. A naive
  * directory rewrite destroys all three.
  *
  * [[compactIndex]] detects the layout from `meta.txt`, rewrites each
  * partitioned dataset with one shuffle keyed on its partition column
  * (so each partition directory collapses to one file per holding
  * task — the same `repartition(partitionCol)` discipline the index
  * writers use), rewrites unpartitioned datasets (`centroids/`,
  * `codebook/`) with a single-file coalesce, and copies `meta.txt` /
  * `last_batch.txt` verbatim. The rewrite goes to a NEW directory —
  * atomic swap stays with the caller, the [[Compaction]] contract.
  *
  * Probe results over the compacted index are BIT-IDENTICAL to the
  * fragmented one: compaction permutes row and file placement only,
  * every row survives unchanged (including MinHash's per-increment
  * `bucket_size` values — the probe's `maxBucket` cap is a per-ROW
  * scan filter, so merging increments' postings into fewer files
  * changes nothing it sees), and every probe in the family either
  * aggregates or ranks with a total tie order. `x_index_compact`
  * shares the fresh-index probe oracle on exactly this argument.
  *
  * 100 TB shape: each dataset rewrite is one shuffle proportional to
  * INDEX bytes (codes/postings — a small fraction of corpus bytes),
  * never a corpus rescan; run it off the ingest path at the same
  * cadence as table compaction.
  */
object IndexCompaction {

  import Compaction.CompactionStats

  /** One dataset's rewrite plan: directory name + optional partition
    * column (None = small unpartitioned side table, coalesce(1)).
    */
  private final case class DatasetPlan(name: String, partitionCol: Option[String])

  private def plansFor(meta: String): Seq[DatasetPlan] = {
    val kv = meta.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); (k.trim, v.trim) }.toMap
    kv.get("format") match {
      case Some("ivf_int8") => Seq(
        DatasetPlan("cells", Some("cell")),
        DatasetPlan("centroids", None))
      case Some("ivf_pq") => Seq(
        DatasetPlan("cells", Some("cell")),
        DatasetPlan("codebook", None),
        DatasetPlan("centroids", None))
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown index format '$other'")
      case None if kv.contains("shingleSize") => Seq(
        DatasetPlan("bands", Some("band")),
        DatasetPlan("shingles", Some("shard")))
      case None =>
        throw new IllegalArgumentException(
          "meta.txt has neither a format line nor MinHash parameters")
    }
  }

  private def listStats(spark: SparkSession, dir: String): (Int, Long) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) (0, 0L)
    else {
      var n = 0
      var bytes = 0L
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          n += 1; bytes += f.getLen
        }
      }
      (n, bytes)
    }
  }

  private def copyFileIfExists(
      spark: SparkSession, src: String, dst: String): Unit = {
    val from = new Path(src)
    val fs = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(from)) {
      val in = fs.open(from)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          buf.toByteArray
        } finally in.close()
      val out = fs.create(new Path(dst), true)
      try out.write(bytes) finally out.close()
    }
  }

  /** Repack the index at `inPath` into `outPath` (per-dataset stats
    * keyed by dataset name). Layout is detected from `meta.txt` and
    * preserved exactly — partition columns, meta, and the ingest
    * replay marker all survive, so a probe (or the next
    * `ingestDedupBatchTo`/`ingestAnnBatchTo` fold step) pointed at
    * `outPath` behaves bit-identically to the fragmented original.
    */
  def compactIndex(
      spark: SparkSession, inPath: String, outPath: String
  ): Map[String, CompactionStats] = {
    val metaSrc = new Path(s"$inPath/meta.txt")
    val fs = metaSrc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaSrc), s"no meta.txt under $inPath — not a written index")
    val metaText = {
      val in = fs.open(metaSrc)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val present = plansFor(metaText).filter(p =>
      fs.exists(new Path(s"$inPath/${p.name}"))) // append-era index may lack a side table
    // the per-dataset rewrites are independent (disjoint source and
    // destination directories) — overlap them so one dataset's write
    // tail back-fills the other's idle slots (Actions scaladoc)
    val results =
      new java.util.concurrent.ConcurrentHashMap[String, CompactionStats]()
    if (present.nonEmpty)
      graft.operators.Actions.runConcurrently(present.map { p => () => {
      val src = s"$inPath/${p.name}"
      val dst = s"$outPath/${p.name}"
      val (nBefore, bytesBefore) = listStats(spark, src)
      val df = spark.read.parquet(src)
      p.partitionCol match {
        case Some(pc) =>
          df.repartition(col(pc))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(pc).parquet(dst)
        case None =>
          df.coalesce(1).write.mode("overwrite").parquet(dst)
      }
      val (nAfter, bytesAfter) = listStats(spark, dst)
      results.put(p.name,
        CompactionStats(nBefore, bytesBefore, nAfter, bytesAfter))
      ()
    }}: _*)
    val stats = {
      import scala.jdk.CollectionConverters._
      results.asScala.toMap
    }
    copyFileIfExists(spark, s"$inPath/meta.txt", s"$outPath/meta.txt")
    copyFileIfExists(spark, s"$inPath/last_batch.txt", s"$outPath/last_batch.txt")
    stats
  }
}
