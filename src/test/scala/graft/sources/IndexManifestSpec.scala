package graft.sources

import graft.SparkTestBase
import graft.operators.{Dedup, Ivf, Pq}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The persisted-index manifest contract: a reader sees exactly the
  * files `meta.txt` lists at the version it read — not a stray file,
  * not a torn append, not a later version — and building an index
  * read runs no listing or schema-inference job.
  */
class IndexManifestSpec extends SparkTestBase {
  import IndexManifestSpec.Job

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding")).cache()
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text")).cache()
  private def base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
  private def inc = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
  private def queries = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def pqIndex(name: String, nlist: Int = 8): String = {
    val dir = tempDir(name).resolve("idx").toString
    Pq.writeIndex(base, "vec_id", "embedding", dir, m = 8, ncode = 16, nlist = nlist,
      mode = "overwrite")
    dir
  }

  private def append(dir: String): Unit =
    Pq.writeIndex(inc, "vec_id", "embedding", dir, m = 8, ncode = 16, nlist = 8,
      mode = "append")

  /** One PQ-ingest fold step of `inc` onto the index at `dir`. */
  private def fold(dir: String, batchId: Long): Unit =
    Pq.ingestBatchTo(spark, inc, "vec_id", "embedding", dir, Pq.readIndex(spark, dir),
      k = 3, nProbe = 2, batchId = Some(batchId), maxQueries = 8, sink = _.count())

  /** Exhaustive probe (every cell) of the index at `dir`, sorted rows. */
  private def probe(dir: String): Seq[String] = {
    val idx = Pq.readIndex(spark, dir)
    Pq.probeIndex(idx, queries, "qid", "qv", k = 5, nProbe = idx.nlist)
      .collect().map(_.toString).sorted.toSeq
  }

  private def codes(dir: String): Seq[String] =
    Pq.readIndex(spark, dir).encoded.collect().map(_.toString).sorted.toSeq

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  test("a Parquet file outside the manifest is not read by a probe, while a bare read sees it") {
    val dir = pqIndex("mf_stray")
    val before = probe(dir)
    val committed = spark.read.parquet(s"$dir/cells").count()
    val donor = Files.list(Paths.get(dir, "cells")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    val donorRows = spark.read.parquet(donor.toString).count()
    assert(donorRows > 0)
    Files.copy(donor, Paths.get(dir, "cells", "part-stray.parquet"))
    assert(spark.read.parquet(s"$dir/cells").count() == committed + donorRows,
      "the bare read must see the stray file — else this test shows nothing")
    assert(probe(dir) == before)
    assert(Pq.readIndex(spark, dir).encoded.count() == committed)
  }

  test("torn append: a restored pre-append meta.txt hides the append, and re-running it " +
      "converges to the uninterrupted index") {
    // a plain append, and a fold step whose replay marker commits with it
    Seq[String => Unit](append(_), fold(_, 5L)).foreach { grow =>
      val dir = pqIndex("mf_torn")
      val before = probe(dir)
      // the commit file and its checksum, as they stood before the append
      val meta = Seq("meta.txt", ".meta.txt.crc").map(Paths.get(dir, _)).filter(Files.exists(_))
      val saved = meta.map(p => p -> Files.readAllBytes(p))
      grow(dir)
      assert(probe(dir) != before,
        "the append must change the probe — else this test shows nothing")
      saved.foreach { case (p, bytes) => Files.write(p, bytes) }
      assert(probe(dir) == before)
      grow(dir)
      val clean = pqIndex("mf_clean")
      grow(clean)
      assert(probe(dir) == probe(clean))
      assert(codes(dir) == codes(clean))
    }
  }

  test("an overwrite drops the replay marker: a fresh checkpoint's batch 0 is appended") {
    val dir = pqIndex("mf_stale")
    fold(dir, 0L)
    Pq.writeIndex(base, "vec_id", "embedding", dir, m = 8, ncode = 16, nlist = 8,
      mode = "overwrite")
    fold(dir, 0L)
    assert(codes(dir).size == emb.count(), "the re-run batch 0 never reached the index")
  }

  test("a copied index dir probes and appends independently of its source") {
    val src = pqIndex("mf_src")
    val dst = tempDir("mf_copy").resolve("idx")
    copyTree(Paths.get(src), dst)
    val before = probe(src)
    assert(probe(dst.toString) == before)
    append(dst.toString)
    assert(probe(src) == before)
    assert(codes(src).size == base.count())
    assert(codes(dst.toString).size == emb.count())
    val files = Pq.readIndex(spark, dst.toString).encoded.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(dst.toString)), files.mkString(", "))
  }

  test("a persisted scan of manifest version v does not answer a read of v+1") {
    val dir = pqIndex("mf_cache")
    val v = Pq.readIndex(spark, dir).encoded.persist()
    try {
      val n = v.count()
      append(dir)
      val next = Pq.readIndex(spark, dir).encoded
      assert(next.count() == n + inc.count())
      assert(next.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.isEmpty)
    } finally { v.unpersist(blocking = true); () }
  }

  /** The SQL actions (by name) and the jobs `f` ran. */
  private def observe[T](f: => T): (T, Seq[String], Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"manifest-spec-${java.util.UUID.randomUUID()}"
    val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val records = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group) {
          j.stageInfos.foreach(s => jobOf.put(s.stageId, j.jobId))
          starts.put(j.jobId, Job(j.stageInfos.map(_.numTasks).sum, 0L,
            Option(j.properties.getProperty("spark.job.description")).getOrElse(""),
            j.stageInfos.headOption.map(_.name).getOrElse("")))
          ()
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(jobOf.get(t.stageId)).filter(_ => t.taskMetrics != null).foreach { job =>
          records.merge(job, t.taskMetrics.inputMetrics.recordsRead, (a, b) => a + b)
        }
    }
    val sql = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(sql)
    sc.setJobGroup(group, "IndexManifestSpec", interruptOnCancel = false)
    try {
      val out = f
      SpecBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, actions.asScala.toSeq, starts.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
        j.copy(records = Option(records.get(id)).map(_.longValue).getOrElse(0L))
      })
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(sql)
      sc.removeSparkListener(jobs)
    }
  }

  test("a 64-cell PQ index: readIndex runs only its two quantizer collects, and building " +
      "probeIndex only the probe-cell collect") {
    val dir = pqIndex("mf_jobs_pq", nlist = 64)
    // the control: a bare read of the same rows in 64 `cell=` dirs lists
    // and infers, so the listener sees the jobs the index read must not run
    val parted = tempDir("mf_jobs_pq_parted").resolve("cells").toString
    spark.read.parquet(s"$dir/cells").write.partitionBy("cell").parquet(parted)
    val (_, _, bare) = observe(spark.read.parquet(parted))
    assert(bare.exists(j => j.listing && j.tasks == 64) && bare.exists(_.inference),
      s"control read ran neither a listing nor an inference job: $bare")

    val (idx, readActions, readJobs) = observe(Pq.readIndex(spark, dir))
    assert(readActions == Seq("collect", "collect"), readActions)
    assert(readJobs.size == 2, readJobs)
    val (_, probeActions, probeJobs) = observe(
      Pq.probeIndex(idx, queries, "qid", "qv", k = 5, nProbe = 8))
    assert(probeActions == Seq("collect"), probeActions)
    assert(probeJobs.nonEmpty && !probeJobs.exists(j => j.listing || j.inference), probeJobs)
  }

  test("a 64-shard MinHash index: minHashProbeIndex runs no 64-task 0-record job " +
      "and no schema inference") {
    val dir = tempDir("mf_jobs_mh").resolve("idx").toString
    val m = pmod(col("doc_id"), lit(5))
    Dedup.writeMinHashIndex(docs.filter(m =!= 0), "doc_id", "text", dir,
      mode = "overwrite", nShards = 64)
    val (pairs, _, jobs) = observe(Dedup.minHashProbeIndex(spark, docs.filter(m === 0),
      "doc_id", "text", dir, threshold = 0.0).collect())
    assert(pairs.nonEmpty, "the probe found no pairs — the scans ran on nothing")
    assert(jobs.nonEmpty)
    assert(!jobs.exists(j => j.tasks == 64 && j.records == 0), jobs)
    assert(!jobs.exists(j => j.listing || j.inference), jobs)
  }

  test("a MinHash probe finds its hit shards on the candidate checkpoint: building and " +
      "checkpointing it runs two localCheckpoints and no collect") {
    val dir = tempDir("mf_actions_mh").resolve("idx").toString
    val m = pmod(col("doc_id"), lit(5))
    Dedup.writeMinHashIndex(docs.filter(m =!= 0), "doc_id", "text", dir,
      mode = "overwrite", nShards = 64)
    val (pairs, actions, _) = observe(Dedup.minHashProbeIndex(spark, docs.filter(m === 0),
      "doc_id", "text", dir, threshold = 0.0).localCheckpoint())
    assert(actions == Seq("localCheckpoint", "localCheckpoint"), actions)
    assert(pairs.count() > 0, "the probe found no pairs — the shard filter pruned them all")
  }

  test("an index without meta.txt fails loudly") {
    val dir = tempDir("mf_none").resolve("idx").toString
    Dedup.writeMinHashIndex(docs.limit(50), "doc_id", "text", dir, mode = "overwrite")
    Files.delete(Paths.get(dir, "meta.txt"))
    Files.deleteIfExists(Paths.get(dir, ".meta.txt.crc"))
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashProbeIndex(spark, docs.limit(5), "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("no meta.txt"))
  }

  /** Every file under `dir`, relative to it. */
  private def tree(dir: String): Set[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).toArray.map(p => Paths.get(dir).relativize(
      p.asInstanceOf[Path]).toString).toSet
    finally s.close()
  }

  private def minHashIndex(name: String): String = {
    val dir = tempDir(name).resolve("idx").toString
    Dedup.writeMinHashIndex(docs.limit(50), "doc_id", "text", dir, mode = "overwrite")
    dir
  }

  test("an append onto a MinHash dir without a manifest, or with a pre-manifest meta.txt, " +
      "throws and leaves the existing files in place") {
    val legacy = "shingleSize=3\nnumHashes=64\nbands=16\nnShards=64\n"
    Seq(None, Some(legacy)).foreach { meta =>
      val dir = minHashIndex("mf_mh_append")
      Files.delete(Paths.get(dir, "meta.txt"))
      Files.deleteIfExists(Paths.get(dir, ".meta.txt.crc"))
      meta.foreach(m => Files.write(Paths.get(dir, "meta.txt"), m.getBytes("UTF-8")))
      val before = tree(dir)
      val shingles = spark.read.parquet(s"$dir/shingles").count()
      intercept[IllegalArgumentException] {
        Dedup.writeMinHashIndex(docs.limit(60), "doc_id", "text", dir, mode = "append")
      }
      assert(tree(dir) == before, meta)
      assert(spark.read.parquet(s"$dir/shingles").count() == shingles, meta)
    }
  }

  test("a failed dataset write leaves a concurrent sibling's files out of its dataset dir") {
    val dir = minHashIndex("mf_sibling")
    val before = tree(dir)
    val shingles = spark.read.parquet(s"$dir/shingles").count()
    val base = IndexManifest.read(spark, dir)
    val e = intercept[Exception] {
      IndexManifest.commit(spark, dir, base.get.params, base) { stage =>
        graft.operators.Actions.runConcurrently(
          () => stage.write(spark.read.parquet(s"$dir/shingles"), "shingles", Some("shard")),
          () => stage.write(spark.read.parquet(s"$dir/bands")
            .withColumn("id", when(col("id") >= 0, raise_error(lit("boom")))
              .otherwise(col("id"))), "bands", None))
      }
    }
    assert(e.toString.contains("boom") || Option(e.getCause).exists(_.toString.contains("boom")),
      e.toString)
    assert(spark.read.parquet(s"$dir/shingles").count() == shingles)
    assert(tree(dir) == before)
  }

  test("an index built from a corpus with no shingles commits and probes empty") {
    val dir = tempDir("mf_empty").resolve("idx").toString
    val short = docs.limit(5).withColumn("text", lit("two words"))
    Dedup.writeMinHashIndex(short, "doc_id", "text", dir, mode = "overwrite")
    assert(Files.exists(Paths.get(dir, "meta.txt")))
    assert(Dedup.minHashProbeIndex(spark, docs.limit(5), "doc_id", "text", dir,
      threshold = 0.0).count() == 0)
  }

  /** The number of `file` lines per dataset of the index at `dir`. */
  private def fileCounts(dir: String): Map[String, Int] =
    IndexManifest.read(spark, dir).get.files.groupBy(_.dataset).map { case (d, fs) => d -> fs.size }

  private def docMod = pmod(col("doc_id"), lit(5))

  /** Per layout: its name, a fresh build of the base corpus, an append
    * of the 100-row increment in a given mode, the datasets an append
    * writes, and a readout of the index (probe rows, stored rows).
    */
  private def layouts = Seq[(String, String => Unit, (String, String) => Unit, Set[String],
      String => Seq[String])](
    ("minhash",
      dir => Dedup.writeMinHashIndex(docs.filter(docMod =!= 0), "doc_id", "text", dir,
        mode = "overwrite"),
      (dir, mode) => Dedup.writeMinHashIndex(docs.filter(docMod === 0), "doc_id", "text", dir,
        mode = mode),
      Set("shingles", "bands"),
      dir => Dedup.minHashProbeIndex(spark, docs.filter(docMod === 0), "doc_id", "text", dir,
        threshold = 0.0).collect().map(_.toString).sorted.toSeq :+
        IndexManifest.read(spark, dir).get.scan(spark, dir, "shingles").count().toString),
    ("ivf_int8",
      dir => Ivf.writeInt8Index(base, "vec_id", "embedding", dir, nlist = 8, mode = "overwrite"),
      (dir, mode) => Ivf.writeInt8Index(inc, "vec_id", "embedding", dir, nlist = 8, mode = mode),
      Set("cells"),
      dir => Ivf.ivfInt8ProbeIndex(spark, dir, Ivf.readInt8Index(spark, dir), queries,
        "qid", "qv", k = 5, nProbe = 8).collect().map(_.toString).sorted.toSeq),
    ("ivf_pq",
      dir => Pq.writeIndex(base, "vec_id", "embedding", dir, m = 8, ncode = 16, nlist = 8,
        mode = "overwrite"),
      (dir, mode) => Pq.writeIndex(inc, "vec_id", "embedding", dir, m = 8, ncode = 16,
        nlist = 8, mode = mode),
      Set("cells"),
      dir => probe(dir) ++ codes(dir)))

  test("a 100-row append adds exactly one file line per dataset it writes, in each layout") {
    assert(inc.count() == 100 && docs.filter(docMod === 0).count() == 100)
    layouts.foreach { case (name, build, grow, writes, _) =>
      val dir = tempDir(s"mf_one_$name").resolve("idx").toString
      build(dir)
      val before = fileCounts(dir)
      grow(dir, "append")
      val after = fileCounts(dir)
      assert(after.keySet == before.keySet && writes.subsetOf(before.keySet), (before, after))
      before.foreach { case (d, n) =>
        assert(after(d) == n + (if (writes(d)) 1 else 0), s"$name $d: $n -> ${after(d)} files")
      }
    }
  }

  test("the index write mode is parsed once: \"Append\" and \"APPEND\" append exactly as " +
      "\"append\" does, in each layout") {
    layouts.foreach { case (name, build, grow, _, readout) =>
      val grown = Seq("append", "Append", "APPEND").map { mode =>
        val dir = tempDir(s"mf_mode_$name").resolve("idx").toString
        build(dir)
        grow(dir, mode)
        (mode, fileCounts(dir), readout(dir))
      }
      val (_, files, rows) = grown.head
      grown.tail.foreach { case (mode, f, r) =>
        assert(f == files, s"$name $mode: $f, append: $files")
        assert(r == rows, s"$name $mode: the index reads differently from an append")
      }
    }
  }

  test("a manifest of the partition-dir layout is refused with a request to rebuild") {
    val dir = minHashIndex("mf_old")
    val meta = Paths.get(dir, "meta.txt")
    val lines = new String(Files.readAllBytes(meta), "UTF-8").linesIterator.toSeq
    def files(f: String => String) = lines.map(l => if (l.startsWith("file ")) f(l) else l)
    Seq(
      // file lines without key ranges
      files { l => val w = l.split(" "); s"file ${w(1)} ${w.last}" },
      // a file under a partition dir
      files(_.replace(" shingles/", " shingles/shard=3/"))
    ).foreach { text =>
      Files.deleteIfExists(Paths.get(dir, ".meta.txt.crc"))
      Files.write(meta, text.mkString("", "\n", "\n").getBytes("UTF-8"))
      val probing = intercept[IllegalArgumentException] {
        Dedup.minHashProbeIndex(spark, docs.limit(5), "doc_id", "text", dir)
      }
      val appending = intercept[IllegalArgumentException] {
        Dedup.writeMinHashIndex(docs.limit(60), "doc_id", "text", dir, mode = "append")
      }
      Seq(probing, appending).foreach(e =>
        assert(e.getMessage.contains("rebuild the index"), e.getMessage))
    }
  }

  test("a MinHash probe's shingles scan reads only the files whose shard range meets " +
      "the hit shards") {
    val dir = tempDir("mf_prune_mh").resolve("idx").toString
    // several range-partitioned files: no coalescing of the write's shuffle
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      Dedup.writeMinHashIndex(docs.filter(docMod =!= 0), "doc_id", "text", dir,
        mode = "overwrite", nShards = 64)
    }
    val files = IndexManifest.read(spark, dir).get.filesOf("shingles")
    assert(files.size > 1, files)
    // the batch doc with the fewest candidates, and the shards they live in
    val pairs = Dedup.minHashProbeIndex(spark, docs.filter(docMod === 0), "doc_id", "text", dir,
      threshold = 0.0)
    val chosen = pairs.groupBy("batch_id").count()
      .orderBy(col("count"), col("batch_id")).first().getLong(0)
    val hit = pairs.filter(col("batch_id") === chosen)
      .select(pmod(xxhash64(col("corpus_id")), lit(64L))).collect().map(_.getLong(0)).toSet
    val probed = Dedup.minHashProbeIndex(spark, docs.filter(col("doc_id") === chosen),
      "doc_id", "text", dir, threshold = 0.0)
    assert(probed.collect().nonEmpty)
    val scans = scansOf(probed.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("shingles")))
    assert(scans.nonEmpty, probed.queryExecution.executedPlan.toString)
    val read = scans.map(_.metrics("numFiles").value).sum
    val meeting = files.count(_.range.forall { case (lo, hi) => hit.exists(h => h >= lo && h <= hi) })
    assert(read <= meeting && meeting < files.size,
      s"the shingles scan read $read files; $meeting of ${files.size} hold shards $hit")
  }

  test("an overwrite commits the new manifest and leaves only its files") {
    val dir = pqIndex("mf_over")
    val first = Files.walk(Paths.get(dir, "cells")).filter(Files.isRegularFile(_))
      .toArray.map(_.toString).toSet
    Pq.writeIndex(inc, "vec_id", "embedding", dir, m = 8, ncode = 16, nlist = 8,
      mode = "overwrite")
    val now = Files.walk(Paths.get(dir, "cells")).filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.toString).toSet
    assert(now.nonEmpty && (now & first).isEmpty)
    assert(spark.read.parquet(s"$dir/cells").count() == inc.count())
    assert(!Files.list(Paths.get(dir)).anyMatch(_.getFileName.toString.startsWith("_")),
      "staging dirs must not outlive the write")
  }
}

object IndexManifestSpec {

  /** A job a spec step ran: its task count, the records its tasks read,
    * its description and the name of its first stage.
    */
  final case class Job(tasks: Int, records: Long, desc: String, stage: String) {
    // InMemoryFileIndex's parallel partition discovery
    def listing: Boolean = desc.startsWith("Listing leaf files")
    // Parquet schema inference runs at DataFrameReader.parquet's call site
    def inference: Boolean = stage.startsWith("parquet at")
  }
}
