package prodbench

import org.apache.spark.ProdbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Work counters summed over the tasks of one job (or a group of jobs). */
final class Counts {
  var jobs, stages, tasks = 0L
  var recordsRead, bytesRead, shuffleWrite, shuffleRead, spill = 0L
  var cpuNs, gcMs, outRecords, outBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    cpuNs += o.cpuNs; gcMs += o.gcMs; outRecords += o.outRecords; outBytes += o.outBytes
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "records_read" -> recordsRead, "bytes_read" -> bytesRead,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "output_records" -> outRecords, "output_bytes" -> outBytes)
}

object Counts {
  def sum(cs: Iterable[Counts]): Counts = { val t = new Counts; cs.foreach(t += _); t }
}

/** A closed interval of epoch milliseconds with a name and its parent. */
final case class Span(
    id: Long, parent: Long, op: Long, name: String, layer: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1e3
}

final class ExecRec(val id: Long, val startMs: Long, val description: String) {
  var endMs: Long = -1L
  var failed = false
  /** end time, or `opEnd` when the end event was never seen */
  def endOr(opEnd: Double): Double = if (endMs >= 0) endMs.toDouble else opEnd
}

final class JobRec(val id: Int, val startMs: Long, val label: String, val execId: Option[Long]) {
  var endMs: Long = -1L
  val counts = new Counts
}

/** Everything the listeners saw during one timed operation. */
final class OpTrace(
    val opId: Long, val name: String, val startMs: Long,
    val wallS: Double, val execs: Seq[ExecRec], val jobs: Seq[JobRec],
    val timers: Seq[Span], val cacheBytes: Long) {

  def endMs: Double = startMs + wallS * 1e3

  def jobsLabelled(label: String): Seq[JobRec] = jobs.filter(_.label == label)
  def total: Counts = Counts.sum(jobs.map(_.counts))
}

/** Outside-in tracer: a SparkListener plus a QueryExecutionListener that
  * the benchmark registers on its own session. Between `begin` and `end`
  * of one operation it collects SQL executions, jobs, per-job task
  * counters, cache block writes and the benchmark's own timers; `end`
  * drains the listener bus and returns the operation's [[OpTrace]].
  * Spans are kept in memory and written as JSON by the caller.
  *
  * Jobs are labelled by the `prodbench.span` local property, which the
  * benchmark sets around each call it times (Spark copies local
  * properties to threads started from that thread, so jobs launched by
  * helper threads inherit the label).
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var cacheBytes = 0L
  private val timers = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var opId = -1L
  private var opStartMs = 0L
  private var opStartNs = 0L
  private var opName = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  /** QueryExecutionListener callbacks: (function name, execution id, seconds). */
  val qeCalls = mutable.ArrayBuffer.empty[(String, Long, Double)]

  def newId(): Long = lock.synchronized { nextId += 1; nextId }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val label = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).getOrElse("other")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val j = new JobRec(e.jobId, e.time, label, exec)
      j.counts.jobs = 1
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.counts.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        val c = j.counts
        c.tasks += 1
        if (m != null) {
          c.recordsRead += m.inputMetrics.recordsRead
          c.bytesRead += m.inputMetrics.bytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.outRecords += m.outputMetrics.recordsWritten
          c.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        cacheBytes += b.memSize + b.diskSize
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = new ExecRec(s.executionId, s.time,
            s.description + "\n" + s.physicalPlanDescription)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach { x =>
            x.endMs = s.time; x.failed = s.errorMessage.exists(_.nonEmpty)
          }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized { qeCalls += ((funcName, qe.id, durationNs / 1e9)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lock.synchronized { qeCalls += ((funcName + ":failed", qe.id, Double.NaN)) }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    ProdbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def begin(name: String): Long = {
    ProdbenchBus.drain(sc)
    lock.synchronized {
      execs.clear(); jobs.clear(); stageJob.clear(); timers.clear()
      cacheBytes = 0L
      opId = newId()
      opName = name
      opStartMs = System.currentTimeMillis()
      opStartNs = System.nanoTime()
      opId
    }
  }

  /** Times `f` as a child span of the current operation and labels every
    * job it launches with `label`.
    */
  def timed[T](label: String, layer: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, label)
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty(Tracer.SpanProp, prev)
      lock.synchronized {
        timers += Span(newId(), opId, opId, label, layer, s.toDouble, s + ms)
      }
    }
  }

  def end(): OpTrace = {
    val wallS = (System.nanoTime() - opStartNs) / 1e9
    ProdbenchBus.drain(sc)
    lock.synchronized {
      new OpTrace(opId, opName, opStartMs, wallS,
        execs.values.toSeq, jobs.values.toSeq, timers.toSeq, cacheBytes)
    }
  }

  /** Records the operation's spans: op → SQL execution (named by
    * `execName`) → job, and op → benchmark timer → job.
    */
  def record(t: OpTrace, layerOf: String => String, execName: ExecRec => String): Unit = {
    val opEnd = t.endMs
    val execSpans = t.execs.map { x =>
      val name = execName(x)
      x.id -> Span(newId(), t.opId, t.opId, name, layerOf(name), x.startMs.toDouble, x.endOr(opEnd),
        Map("execution_id" -> x.id, "failed" -> x.failed))
    }.toMap
    spans += Span(t.opId, -1L, t.opId, t.name, "operation", t.startMs.toDouble, opEnd,
      t.total.toMap ++ Map("cache_bytes" -> t.cacheBytes))
    spans ++= t.timers
    spans ++= execSpans.values.toSeq.sortBy(_.startMs)
    t.jobs.foreach { j =>
      val parent = j.execId.flatMap(execSpans.get).map(_.id)
        .orElse(t.timers.find(s => s.name == j.label && s.startMs <= j.startMs && j.startMs <= s.endMs).map(_.id))
        .getOrElse(t.opId)
      val end = if (j.endMs >= 0) j.endMs.toDouble else opEnd
      spans += Span(newId(), parent, t.opId, s"job ${j.id}", "job", j.startMs.toDouble, end,
        j.counts.toMap ++ Map("label" -> j.label))
    }
  }
}

object Tracer {
  val SpanProp = "prodbench.span"

  /** Length in ms of the union of `intervals`, clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
