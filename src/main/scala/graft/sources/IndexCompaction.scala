package graft.sources

import org.apache.spark.sql.SparkSession

/** Compaction/repack for the PERSISTED INDEX layouts (MinHash LSH,
  * int8 IVF, IVF-PQ) — the index-aware sibling of [[Compaction]].
  *
  * Every append cycle ([[graft.operators.Dedup.ingestDedupBatchTo]],
  * [[graft.operators.Ivf.ingestAnnBatchTo]], `Pq.writeIndex` append
  * mode) adds one file to each dataset it writes (`bands/`,
  * `shingles/`, `cells/`); a keyed one's (`shingles/`, `cells/`) is
  * sorted, and its key range overlaps the earlier files', about all of
  * them for a small batch, so a probe prunes none of the appended
  * files until they are compacted. After N micro-batches a
  * continuously-ingesting index fragments exactly like the small-file
  * problem plain-table compaction solves — except an index is not a plain table: its
  * `meta.txt` manifest lists the files the probes read, with the key
  * ranges they prune on, and its `last_batch=` line is the replay
  * marker the ingest folds consult. A naive directory rewrite destroys
  * both.
  *
  * [[compactIndex]] reads the source's manifest ([[IndexManifest]]),
  * rewrites each dataset it lists from that version's files — a keyed
  * one through the writers' rule ([[IndexManifest.Stage.write]]:
  * range-partitioned and sorted by its key, so the output files hold
  * disjoint ranges in a data-proportional count), an unkeyed one
  * (`bands/`, the side tables) as its scan merged into files of about
  * `spark.sql.files.maxPartitionBytes` each (one file for a side
  * table) — and commits the output's own manifest with the
  * same parameter lines (the replay marker included), listing exactly
  * the compacted files. The rewrite goes to a NEW directory — atomic
  * swap stays with the caller, the [[Compaction]] contract.
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

  /** Repack the index at `inPath` into `outPath` (per-dataset stats
    * keyed by dataset name, file counts and bytes from the two
    * manifests — nothing is listed). The layout is preserved exactly —
    * the dataset keys and the parameter lines, the ingest replay
    * marker among them, all survive, so a probe (or the next
    * `ingestDedupBatchTo`/`ingestAnnBatchTo` fold step) pointed at
    * `outPath` behaves bit-identically to the fragmented original.
    */
  def compactIndex(
      spark: SparkSession, inPath: String, outPath: String
  ): Map[String, CompactionStats] = {
    val manifest = IndexManifest.read(spark, inPath).getOrElse(
      throw new IllegalArgumentException(s"no meta.txt under $inPath — not a written index"))
    val format = manifest.param("format").getOrElse("")
    require(Set("minhash", "ivf_int8", "ivf_pq")(format), s"unknown index format '$format'")
    val maxFileBytes = spark.sessionState.conf.filesMaxPartitionBytes
    // the per-dataset rewrites are independent (disjoint source and
    // destination directories) — overlap them so one dataset's write
    // tail back-fills the other's idle slots (Actions scaladoc)
    val written = IndexManifest.commit(spark, outPath, manifest.params, base = None) { stage =>
      graft.operators.Actions.runConcurrently(manifest.datasets.map { d =>
        () => {
          val scan = manifest.scan(spark, inPath, d.name)
          val bytes = manifest.filesOf(d.name).map(_.len).sum
          val files = math.max(1L, (bytes + maxFileBytes - 1) / maxFileBytes).toInt
          stage.write(if (d.key.isDefined) scan else scan.coalesce(files), d.name, d.key)
        }
      }: _*)
    }
    written.map { w =>
      val before = manifest.filesOf(w.dataset.name)
      w.dataset.name -> CompactionStats(before.size, before.map(_.len).sum,
        w.files.size, w.files.map(_.len).sum)
    }.toMap
  }
}
