package graft.queries

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkTestBase}

/** Pins the catalog harness's ownership rules ([[Harness]]): the
  * artifact labels Bench reports, where scratch data lives, and that
  * streaming checkpoints do not outlive their drain.
  */
class HarnessSpec extends SparkTestBase {

  /** The `artifact_breakdown` keys of the committed BENCH_r19_medians.json
    * record. `tools/bench_diff.py` diffs artifacts by these names.
    */
  private val benchBreakdownKeys = Set(
    "ann_ingest_stage", "annotated_lineitem", "exact_knn_graph",
    "fragmented_ivf_index", "fuzzy_pairs", "gopher_signals", "ingest_stage",
    "late_stream", "lm_model", "ngram_pair_graph", "passage_spans", "pq_index",
    "pq_top10", "refresh_audit_indexes", "seed_ann_index", "seed_dedup_index",
    "seed_pq_index", "served_ivf_index", "served_pq_index")

  private def children(dir: java.nio.file.Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }

  test("artifact labels are pairwise distinct and name the bench breakdown keys") {
    assert(Queries.queries.nonEmpty) // declares every artifact
    val labels = Harness.artifactLabels
    // a duplicate label would merge two artifacts' timing buckets
    assert(labels.distinct.size == labels.size,
      s"duplicate artifact labels: ${labels.diff(labels.distinct)}")
    // doc_shingles builds inside ngram_pair_graph's build, and only the
    // outermost build is timed: a full Bench run goes in name order, so
    // a pair-graph consumer (x_cluster_safe_split) builds it before
    // x_dedup_containment can, and the label never reaches the record
    assert(labels.toSet == benchBreakdownKeys + "doc_shingles",
      s"declared ${labels.toSet.diff(benchBreakdownKeys)} / " +
        s"missing ${benchBreakdownKeys.diff(labels.toSet)}")
  }

  test("a run dir lives under the scratch root until the entry's next run starts") {
    val first = Harness.runDir("harness_spec")
    Files.write(first.resolve("part"), Array[Byte](1))
    assert(first.startsWith(Harness.scratchRoot))
    val second = Harness.runDir("harness_spec")
    assert(first != second)
    assert(!Files.exists(first), "the previous run dir survived the next run")
    assert(Files.isDirectory(second) && children(second).isEmpty)
    val other = Harness.runDir("harness_spec_other")
    assert(Files.isDirectory(second), "another entry's run deleted this entry's dir")
    Harness.deleteQuietly(other)
  }

  test("a streaming-ingest fold deletes its checkpoint once it drains") {
    val kept = SparkEntry.queries("x_stream_dedup_index")(spark, sfDir).count()
    assert(kept > 0, "the fold drained no rows")
    assert(children(Harness.checkpointRoot).isEmpty,
      s"checkpoints left under ${Harness.checkpointRoot}: " +
        children(Harness.checkpointRoot).mkString(", "))
  }
}
