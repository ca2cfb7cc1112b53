package graft.sources

import graft.SparkTestBase
import graft.operators.{Dedup, Ivf}
import org.apache.spark.sql.functions._

/** Index repack invariants: the compacted index (a) answers probes
  * bit-identically to the fragmented original, (b) actually reduces
  * the file count the appends accreted, and (c) carries the parameters
  * (in its own manifest) and the replay marker forward so the next
  * ingest fold step can point at the repacked directory unchanged.
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
    // the output carries its own manifest: the source's parameter lines,
    // and exactly the compacted files
    def lines(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p, "meta.txt")), "UTF-8").linesIterator.toSeq
    def params(p: String) = lines(p).filter(l => l.contains("=") &&
      !l.startsWith("dataset ") && !l.startsWith("file "))
    assert(params(compacted) == params(frag))
    assert(params(compacted).exists(_.startsWith("format=")))
    val listed = lines(compacted).filter(_.startsWith("file ")).map(_.split(" ").last).toSet
    val root = java.nio.file.Paths.get(compacted)
    val onDisk = {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .toArray.map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString).toSet
      finally s.close()
    }
    assert(listed == onDisk)
    assert(listed.size == stats.values.map(_.filesAfter).sum)
  }

  test("MinHash: compacted probe pairs are identical, marker survives") {
    val frag = tmp("mh_frag")
    val m = pmod(col("doc_id"), lit(4))
    Dedup.writeMinHashIndex(docs.filter(m === 0), "doc_id", "text",
      frag, bands = 8, mode = "overwrite")
    // grow through the ingest fold so the manifest carries a replay marker
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
    // the replay marker rides along: a replay of the last batch on the
    // compacted index re-sinks without re-appending
    def shingles = spark.read.parquet(s"$compacted/shingles").count()
    val before = shingles
    Dedup.ingestDedupBatchTo(spark, docs.filter(m === 3), "doc_id", "text",
      compacted, bands = 8, threshold = 0.5, batchId = Some(3L), sink = _.count())
    assert(shingles == before, "a replayed batchId re-appended onto the compacted index")
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
