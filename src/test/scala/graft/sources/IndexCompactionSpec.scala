package graft.sources

import graft.SparkTestBase
import graft.operators.{Dedup, Ivf}
import org.apache.spark.sql.functions._

/** Index repack invariants: the compacted index (a) answers probes
  * bit-identically to the fragmented original, (b) actually reduces
  * the file count the appends accreted, and (c) carries the meta +
  * replay-marker sidecars forward so the next ingest fold step can
  * point at the repacked directory unchanged.
  */
class IndexCompactionSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    tempDir(name).resolve("idx").toString
  }

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text")).cache()

  test("int8 IVF: compacted probe is bit-identical, file count drops") {
    val frag = tmp("ivf_frag")
    val h = xxhash64(col("vec_id"))
    Ivf.writeInt8Index(emb.filter(h < 0), "vec_id", "embedding",
      frag, nlist = 16, mode = "overwrite")
    (0 until 3).foreach { k =>
      Ivf.writeInt8Index(emb.filter(h >= 0 && pmod(col("vec_id"), lit(3)) === k),
        "vec_id", "embedding", frag, nlist = 16, mode = "append")
    }
    val compacted = tmp("ivf_comp")
    val stats = IndexCompaction.compactIndex(spark, frag, compacted)
    assert(stats.contains("cells") && stats.contains("centroids"))
    assert(stats("cells").filesAfter < stats("cells").filesBefore,
      s"cells/: ${stats("cells")} — repack did not reduce the file count")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def probe(path: String) =
      Ivf.ivfInt8ProbeIndex(spark, path, Ivf.readInt8Index(spark, path),
          queries, "qid", "qv", k = 10, nProbe = 4)
        .collect().map(_.toString).sorted.toSeq
    assert(probe(compacted) == probe(frag))
    // meta survives: the probe above already validated against it, but
    // also assert the bytes are verbatim
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    assert(read(s"$compacted/meta.txt") == read(s"$frag/meta.txt"))
  }

  test("MinHash: compacted probe pairs are identical, marker survives") {
    val frag = tmp("mh_frag")
    val m = pmod(col("doc_id"), lit(4))
    Dedup.writeMinHashIndex(docs.filter(m === 0), "doc_id", "text",
      frag, bands = 8, mode = "overwrite")
    // grow through the ingest fold so a last_batch.txt marker exists
    (1 to 3).foreach { k =>
      Dedup.ingestDedupBatchTo(spark, docs.filter(m === k), "doc_id", "text",
        frag, bands = 8, threshold = 0.5, batchId = Some(k.toLong),
        sink = _.count())
    }
    val compacted = tmp("mh_comp")
    val stats = IndexCompaction.compactIndex(spark, frag, compacted)
    assert(stats.contains("bands") && stats.contains("shingles"))
    assert(stats("bands").filesAfter < stats("bands").filesBefore)
    assert(stats("shingles").filesAfter < stats("shingles").filesBefore)
    val batch = docs.filter(m === 1)
    def probe(path: String) =
      Dedup.minHashProbeIndex(spark, batch, "doc_id", "text", path,
          bands = 8, threshold = 0.5)
        .collect().map(_.toString).sorted.toSeq
    assert(probe(compacted) == probe(frag))
    assert(probe(compacted).nonEmpty, "probe found no pairs — vacuous equality")
    // the replay marker rides along: the NEXT fold step must see it
    // (LastBatchMarker is operators-private — read the sidecar bytes)
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$compacted/last_batch.txt")), "UTF-8")
    assert(marker.trim == "3")
  }

  test("an unknown layout fails loudly") {
    val bad = tmp("bad_idx")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bad))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bad, "meta.txt"),
      "format=wavelet_tree\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      IndexCompaction.compactIndex(spark, bad, tmp("bad_out"))
    }
    assert(e.getMessage.contains("wavelet_tree"))
  }
}
