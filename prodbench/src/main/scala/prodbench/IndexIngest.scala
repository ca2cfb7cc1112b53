package prodbench

import com.fasterxml.jackson.databind.JsonNode
import graft.operators.{Dedup, Pq}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `index_ingest`: one replay of K staged increments through an
  * AvailableNow file stream (maxFilesPerTrigger=1). Each micro-batch runs
  * `Dedup.ingestDedupBatchTo` and then `Pq.ingestBatchTo` at a pruned
  * probe (nProbe < nlist) against private copies of seed indexes that
  * set-up builds once from the base corpus.
  */
final class IndexIngestWorkload(spark: SparkSession, inputs: Path, work: Path) extends Workload {
  import IndexIngestWorkload._

  private val expected: JsonNode = Json.read(inputs.resolve("expected.json"))
  private[prodbench] val baseDocs = expected.get("base_docs").asLong
  private[prodbench] val batches = expected.get("batches").elements().asScala.toSeq
  private val keptIds = batches.flatMap(b => Json.longs(b.get("kept"))).toSet
  val rows: Long = expected.get("rows").asLong
  val files: Int = batches.size
  // set-up's index builds already warm the shared write paths; the cold
  // replay warms the stream and probe paths, and the one after it still
  // runs ~15% slower than the third
  val warmupReps = 2
  private val seedDedup = work.resolve("seed_dedup")
  private val seedPq = work.resolve("seed_pq")
  private var indexBuildS = 0.0
  private var lastNovel = 0L
  private var lastIndexBytes = 0L

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  private[prodbench] def repDir(rep: Int): Path = work.resolve(f"rep_$rep%03d")

  /** increment index of a doc id; the base corpus is -1, an id that no
    * input holds is `Unknown` */
  private def batchOf(id: Long): Int =
    if (id >= 0 && id < baseDocs) -1
    else {
      val b = batches.indexWhere(b => id >= b.get("first_id").asLong && id <= b.get("last_id").asLong)
      if (b < 0) Unknown else b
    }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    val base = spark.read.schema(docSchema).json(inputs.resolve("base").toString)
    Dedup.writeMinHashIndex(base.select(col("doc_id"), col("text")), "doc_id", "text",
      seedDedup.toString, mode = "overwrite")
    Pq.writeIndex(base.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
      seedPq.toString, m = PqM, ncode = PqNcode, nlist = PqNlist, mode = "overwrite")
    indexBuildS = (System.nanoTime() - t0) / 1e9
  }

  override def setupFacts: Map[String, Double] = Map("index_build_s" -> indexBuildS)

  def prepare(rep: Int): Unit = {
    Files2.deleteTree(repDir(rep))
    Files2.copyTree(seedDedup, repDir(rep).resolve("dedup_idx"))
    Files2.copyTree(seedPq, repDir(rep).resolve("pq_idx"))
  }

  def op(rep: Int, tracer: Option[Tracer]): Int = {
    val dir = repDir(rep)
    val dedupIdx = dir.resolve("dedup_idx").toString
    val pqIdx = dir.resolve("pq_idx").toString
    val novelOut = dir.resolve("novel").toString
    val neighborsOut = dir.resolve("neighbors").toString
    def span[T](label: String)(f: => T): T = tracer match {
      case Some(t) => t.timed(label, "operators")(f)
      case None => f
    }
    // the quantizers are frozen across the fold: read them once per replay
    val frozen = Pq.readIndex(spark, pqIdx)
    val q = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").json(inputs.resolve("stage").toString)
      .writeStream
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val batch = b.persist()
        try {
          span("dedup") {
            Dedup.ingestDedupBatchTo(batch.sparkSession, batch, "doc_id", "text", dedupIdx,
              batchId = Some(bid),
              sink = n => n.select(col("doc_id")).write.mode("append").parquet(novelOut))
          }
          span("pq") {
            Pq.ingestBatchTo(batch.sparkSession, batch.select(col("doc_id"), col("embedding")),
              "doc_id", "embedding", pqIdx, frozen, k = K, nProbe = NProbe,
              batchId = Some(bid), maxQueries = Int.MaxValue,
              sink = n => n.select(col("query_id"), col("id"), col("rank"), col("adc_dot"))
                .write.mode("append").parquet(neighborsOut))
          }
        } finally { batch.unpersist(blocking = false); () }
      }
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    pruneDeadStreamingListenerBuses(spark)
    0
  }

  def check(rep: Int): Seq[String] = {
    val fails = Seq.newBuilder[String]
    val dir = repDir(rep)
    // dedup: exactly the fresh docs are kept, every exact copy is dropped
    val novel = spark.read.parquet(dir.resolve("novel").toString)
      .collect().map(_.getLong(0)).toSeq
    lastNovel = novel.size
    if (novel.distinct.size != novel.size) fails += "novel sink holds duplicate doc ids"
    val novelSet = novel.toSet
    val wronglyKept = novelSet -- keptIds
    val wronglyDropped = keptIds -- novelSet
    if (wronglyKept.nonEmpty) fails += s"${wronglyKept.size} copies kept, e.g. ${wronglyKept.take(3)}"
    if (wronglyDropped.nonEmpty) fails += s"${wronglyDropped.size} fresh docs dropped, e.g. ${wronglyDropped.take(3)}"

    // neighbours: exactly K per query, all from earlier batches, no self-pairs
    val nbrs = spark.read.parquet(dir.resolve("neighbors").toString)
      .select(col("query_id"), col("id")).collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val byQuery = nbrs.groupMap(_._1)(_._2)
    val queries = batches.flatMap(b => b.get("first_id").asLong to b.get("last_id").asLong)
    val wrongK = queries.count(q => byQuery.getOrElse(q, Nil).distinct.size != K ||
      byQuery.getOrElse(q, Nil).size != K)
    if (wrongK > 0) fails += s"$wrongK queries do not have exactly $K distinct neighbours"
    val extra = byQuery.keySet -- queries.toSet
    if (extra.nonEmpty) fails += s"${extra.size} neighbour rows for unknown queries"
    val selfPairs = nbrs.count { case (q, i) => q == i }
    if (selfPairs > 0) fails += s"$selfPairs self-pairs"
    val unseen = nbrs.count { case (q, i) => batchOf(i) == Unknown || batchOf(i) >= batchOf(q) }
    if (unseen > 0) fails += s"$unseen neighbours not from a previously seen batch"

    // both indexes grew by exactly the ingested rows
    val want = baseDocs + rows
    val dedupRows = spark.read.parquet(dir.resolve("dedup_idx").resolve("shingles").toString).count()
    val pqRows = spark.read.parquet(dir.resolve("pq_idx").resolve("cells").toString).count()
    if (dedupRows != want) fails += s"dedup index rows: got $dedupRows, want $want"
    if (pqRows != want) fails += s"pq index rows: got $pqRows, want $want"
    lastIndexBytes = Files2.treeBytes(dir.resolve("dedup_idx")) + Files2.treeBytes(dir.resolve("pq_idx"))
    fails.result()
  }

  override def cleanup(rep: Int): Unit = Files2.deleteTree(repDir(rep))

  def layerMetrics(t: OpTrace, tracer: Tracer): Map[String, Double] = {
    val execLabel = t.jobs.flatMap(j => j.execId.map(_ -> j.label)).toMap
    tracer.record(t, {
      case "dedup" | "pq" => "operators"
      case _ => "streaming"
    }, x => execLabel.get(x.id).filter(_ != "other").getOrElse("stream"))
    val steps = Tracer.coveredMs(t.timers.map(s => (s.startMs, s.endMs)), t.startMs.toDouble, t.endMs)
    def stepS(label: String) = t.timers.filter(_.name == label).map(_.seconds).sum
    Map(
      "fold.dedup.step_s" -> stepS("dedup"),
      "fold.pq.step_s" -> stepS("pq"),
      "fold.stream_overhead_s" -> (t.wallS - steps / 1e3),
      "fold.dedup.jobs_per_batch" -> t.jobsLabelled("dedup").size.toDouble / files,
      "fold.pq.jobs_per_batch" -> t.jobsLabelled("pq").size.toDouble / files,
      "fold.dedup.novel_frac" -> lastNovel.toDouble / rows,
      "index.bytes_per_row" -> lastIndexBytes.toDouble / (baseDocs + rows),
      "index.build_s" -> indexBuildS,
      "scan.passes" -> t.total.recordsRead.toDouble / rows,
      "scan.input_bytes" -> t.total.bytesRead.toDouble)
  }
}

object IndexIngestWorkload {
  val Unknown = Int.MinValue
  val K = 5
  val NProbe = 8
  val PqM = 8
  val PqNcode = 256
  val PqNlist = 64

  /** Each streaming query leaves a listener bus registered on the
    * SparkContext after it stops; drop the dead ones so replay N does not
    * pay for the N-1 earlier queries' listeners.
    */
  def pruneDeadStreamingListenerBuses(s: SparkSession): Unit = try {
    val mgr = s.streams
    val own = mgr.getClass.getDeclaredFields
      .find(_.getType.getName.endsWith("StreamingQueryListenerBus"))
      .map { f => f.setAccessible(true); f.get(mgr) }.orNull
    if (own != null) {
      val sc = s.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val all = bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[AnyRef]]
      val remove = bus.getClass.getMethods
        .find(m => m.getName == "removeListener" && m.getParameterCount == 1)
      val dead = new java.util.ArrayList[AnyRef]()
      all.forEach { l =>
        if (l.getClass.getName.endsWith("StreamingQueryListenerBus") && (l ne own)) dead.add(l)
      }
      dead.forEach(l => remove.foreach(_.invoke(bus, l)))
    }
  } catch { case scala.util.control.NonFatal(_) => () }
}
