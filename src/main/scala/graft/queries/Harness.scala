package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The catalog harness's shared state, with one owner: the memoized
  * per-dir [[Harness.Artifact]]s, the per-JVM scratch root every
  * staged, per-run and io-entry path lives under, and the one
  * AvailableNow [[Harness.drain]] every streaming entry runs through.
  * Where scratch data lives, how long it lives and who deletes it are
  * decided here, once:
  *
  *  - staged artifacts and io-entry outputs live at
  *    `<scratchRoot>/<name>_<slug(dir)>` for the JVM's lifetime;
  *  - a per-run dir lives until the same entry's next run starts (the
  *    frame an entry returns reads its run dir lazily);
  *  - a streaming checkpoint lives until its query drains;
  *  - one shutdown hook deletes the scratch and checkpoint roots.
  */
private[graft] object Harness {

  private val pid = ProcessHandle.current().pid()

  /** `java.io.tmpdir/graft_scratch_<pid>`. A live pid is unique, so two
    * JVMs never share a scratch path (two JVMs sharing a dataset-keyed
    * tmpdir burned rounds 14-15), and a dir already at this path is the
    * debris of a dead JVM (kill -9 skips the shutdown hook): cleared
    * before first use.
    */
  val scratchRoot: Path =
    fresh(Paths.get(System.getProperty("java.io.tmpdir"), s"graft_scratch_$pid"))

  /** Streaming checkpoint root: `/dev/shm` (tmpfs) when the platform has
    * a writable one, else under [[scratchRoot]]. Every micro-batch
    * commits offsets, a commit log, the file-source log and state
    * deltas through it; tmpfs measured 2.80 s against 7.18 s for the
    * tmpdir disk on a streaming replay (PLANS.md). Production streaming
    * checkpoints are durable by requirement (exactly-once restart) —
    * this serves only the harness's bounded replays, whose checkpoints
    * are dead the moment the replay drains. Per-JVM like the scratch
    * root: replay names restart from 0 in every process, and a resumed
    * AvailableNow checkpoint has its offsets already committed — the
    * replay would drain zero rows.
    */
  val checkpointRoot: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) fresh(shm.resolve(s"graft_ckpt_$pid"))
    else scratchRoot.resolve("ckpt")
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    Seq(checkpointRoot, scratchRoot).foreach(deleteQuietly)))

  private def fresh(root: Path): Path = {
    deleteQuietly(root)
    Files.createDirectories(root)
  }

  def slug(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  /** The dataset-keyed scratch path of a staged artifact or io entry. */
  def scratch(name: String, d: String): Path = scratchRoot.resolve(s"${name}_${slug(d)}")

  /** Unique suffix for run dirs and memory-sink names: a sink table name
    * must be unique per streaming query within a session, and bench
    * reps rerun catalog entries.
    */
  private val runSeq = new AtomicLong(0L)

  private val lastRun = new ConcurrentHashMap[String, Path]()

  /** A fresh, empty per-run dir for `entry`. The entry's previous run
    * dir is deleted here, when the next run starts, and not earlier:
    * the frame the previous run returned reads it lazily. Safe because
    * Verify and Bench execute catalog entries strictly one at a time.
    */
  def runDir(entry: String): Path = {
    val dir = scratchRoot.resolve(s"${entry}_run_${runSeq.incrementAndGet()}")
    Option(lastRun.put(entry, dir)).foreach(deleteQuietly)
    Files.createDirectories(dir)
  }

  def deleteQuietly(p: Path): Unit =
    try if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  // --- memoized per-dir artifacts ---------------------------------------

  private val artifactNanos = new AtomicLong(0L)
  private val artifactNanosByLabel = new ConcurrentHashMap[String, java.lang.Long]()

  /** Cumulative seconds spent building artifacts (outermost builds only). */
  def artifactBuildSeconds: Double = artifactNanos.get / 1e9

  def artifactBuildBreakdown: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    artifactNanosByLabel.forEach((k, v) => b += (k -> v.toDouble / 1e9))
    b.result()
  }

  // builds nest (the pair graph's build consumes the docShingles
  // artifact): only the OUTERMOST build on a thread adds its elapsed
  // time, so nested artifact builds aren't double-counted
  private val buildDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** A session holds at most the three testdata SFs' artifacts. */
  private val dirMemoMax = 4

  private val declared = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Every declared artifact's label, in declaration order. */
  def artifactLabels: Seq[String] = {
    import scala.jdk.CollectionConverters._
    declared.asScala.toSeq
  }

  /** One artifact memoized per (dataset dir, session): built once, then
    * handed to every consumer. An entry from a replaced SparkSession is
    * rebuilt (`eq` check — cached plans cannot outlive their session),
    * and so is one `valid` rejects; the stale value is released
    * best-effort. At most [[dirMemoMax]] dirs are held; beyond that
    * every held value is released. Each build is timed under `label`
    * into [[artifactBuildSeconds]] / [[artifactBuildBreakdown]]; Bench
    * reports them as `artifact_sec` and `artifact_breakdown`, the
    * one-time cost per corpus refresh that the per-query medians ride on.
    */
  final class Artifact[T <: AnyRef] private[Harness] (
      val label: String, build: (SparkSession, String) => T,
      valid: T => Boolean, release: T => Unit) {
    declared.add(label)
    private val memo = new ConcurrentHashMap[String, (SparkSession, T)]()

    private def hit(s: SparkSession, d: String): Option[T] =
      Option(memo.get(d)).collect { case (s0, v) if (s0 eq s) && valid(v) => v }

    def apply(s: SparkSession, d: String): T = hit(s, d).getOrElse(memo.synchronized {
      hit(s, d).getOrElse {
        val again = memo.get(d)
        if (again != null || memo.size() >= dirMemoMax) {
          val stale = if (again != null) java.util.Collections.singletonMap(d, again) else memo
          stale.forEach { (k, v) =>
            scala.util.Try(release(v._2))
            memo.remove(k)
          }
        }
        val depth: Int = buildDepth.get
        buildDepth.set(depth + 1)
        val t0 = System.nanoTime()
        val built =
          try build(s, d)
          finally {
            buildDepth.set(depth)
            if (depth == 0) {
              val dt = System.nanoTime() - t0
              artifactNanos.addAndGet(dt)
              artifactNanosByLabel.merge(label, dt, (a, b) => java.lang.Long.valueOf(a + b))
            }
          }
        memo.put(d, (s, built))
        built
      }
    })
  }

  /** An artifact whose value rides one persisted frame, named by
    * `frameOf`. The frame is persisted MEMORY_AND_DISK (a pathological
    * size spills instead of evicting executor memory) and materialized
    * inside the timed build. A build that must read the frame cached
    * while it builds persists the frame itself, and has then
    * materialized it. An external `clearCache()` (or a cascading
    * unpersist) silently strips the cache entry; the memo then treats
    * the value as stale and rebuilds it, instead of handing every
    * consumer a frame that re-runs the corpus-wide pass it exists to
    * share.
    */
  def persisted[T <: AnyRef](label: String, frameOf: T => DataFrame)(
      build: (SparkSession, String) => T): Artifact[T] =
    new Artifact[T](label,
      (s, d) => {
        val v = build(s, d)
        val f = frameOf(v)
        if (f.storageLevel == StorageLevel.NONE) {
          f.persist(StorageLevel.MEMORY_AND_DISK)
          f.count()
        }
        v
      },
      v => frameOf(v).storageLevel != StorageLevel.NONE,
      v => { frameOf(v).unpersist(blocking = false); () })

  def frame(label: String)(build: (SparkSession, String) => DataFrame): Artifact[DataFrame] =
    persisted(label, identity[DataFrame])(build)

  /** An artifact staged on disk: `build` writes into
    * [[scratch]]`(label, dir)`, cleared first, and the value is that
    * path. A staged dir is never released before the JVM exits, since
    * frames handed out earlier may still read it.
    */
  def staged(label: String)(build: (SparkSession, String, Path) => Unit): Artifact[String] =
    new Artifact[String](label,
      (s, d) => {
        val dir = scratch(label, d)
        deleteQuietly(dir)
        build(s, d, dir)
        dir.toString
      },
      _ => true, _ => ())

  /** Stage `files` (name → frame) as single-file parquets `<name>.parquet`
    * under `root`, with strictly ascending modification times in the
    * given order, so a `maxFilesPerTrigger=1` file stream replays file
    * k as micro-batch k whichever tiebreak (name or modtime) it uses.
    */
  def stageFiles(root: Path, files: Seq[(String, DataFrame)]): Unit = {
    import scala.jdk.CollectionConverters._
    Files.createDirectories(root)
    val baseMs = System.currentTimeMillis()
    files.zipWithIndex.foreach { case ((name, df), i) =>
      val tmp = root.resolve(s"__stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val walk = Files.list(tmp)
      val partFile =
        try walk.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part written under $tmp"))
        finally walk.close()
      val dest = root.resolve(s"$name.parquet")
      Files.move(partFile, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(baseMs + i * 2000L))
      deleteQuietly(tmp)
    }
  }

  // --- the streaming drain ----------------------------------------------

  /** Run `writer` to completion with `Trigger.AvailableNow` under a fresh
    * checkpoint `<checkpointRoot>/<name>`, then clean up after it: the
    * checkpoint is deleted once the query stops, the stopped query's
    * state-store providers are unloaded, and dead streaming listener
    * buses are pruned.
    */
  def drain(s: SparkSession, name: String, writer: DataStreamWriter[Row]): Unit = {
    val ckpt = checkpointRoot.resolve(name)
    // never start over an existing checkpoint: AvailableNow would
    // resume its committed offsets and replay nothing
    deleteQuietly(ckpt)
    try {
      val q = writer.option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    } finally deleteQuietly(ckpt)
    // A stopped replay's state-store providers stay cached in the
    // executor's loadedProviders map (each replay uses a fresh
    // checkpoint, so nothing ever re-uses them) until the maintenance
    // thread's next pass — 9 consecutive x_stream_dedup replays still
    // spiked to ~28 s with sink rows dropped but providers retained.
    // StateStore.unloadAll is private[sql] (bytecode-public), hence
    // reflection; the query is stopped, so unloading is pure cleanup.
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: ReflectiveOperationException => () }
    pruneDeadStreamingListenerBuses(s)
  }

  /** Last sink table started per prefix: the NEXT replay of the same
    * entry drops it, so repeated execution (bench reps, long sessions)
    * holds at most one sink's rows per entry instead of accumulating
    * every rep's — measured: x_stream_dedup reps DEGRADED 3.6 → 12-23 s
    * across 9 consecutive replays before this, GC-thrashing on retained
    * sink rows + state maps. Safe under the same sequential-execution
    * assumption as the conf mutation in [[replayToMemory]]: by the time
    * an entry replays again, the previous run's returned frame has been
    * fully consumed by the (strictly sequential) Verify/Bench driver.
    */
  private val lastSink = new ConcurrentHashMap[String, String]()

  /** Start a bounded AvailableNow replay into a uniquely-named memory
    * sink and block until it drains; returns the sink table name.
    * While the query runs, the session's shuffle partitions — which fix
    * every stateful operator's STATE STORE partition count at query
    * start — are temporarily sized to the replay volume: state here is
    * tiny (<= ~33k rows), and 32 state-store instances per operator per
    * micro-batch are pure provider/commit overhead at that volume
    * (measured ~2x on the replay entries). Production queries size this
    * to the cluster; the conf is restored before returning, so the
    * batch entries around this one are untouched.
    *
    * SEQUENTIAL-EXECUTION ASSUMPTION: mutating the shared session conf
    * is safe because both drivers that execute catalog entries (Verify
    * and Bench) run them strictly one at a time; a future concurrent
    * catalog runner would race batch entries onto this replay's tiny
    * partition count and must isolate the conf first
    * (`SparkSession.newSession()` shares the catalog but not runtime
    * conf — start the replay from a cloned session there).
    */
  def replayToMemory(
      s: SparkSession, prefix: String, frame: DataFrame, mode: String,
      statePartitions: Int = 4): String = {
    Option(lastSink.get(prefix)).foreach(s.catalog.dropTempView(_))
    val name = s"${prefix}_${runSeq.incrementAndGet()}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try drain(s, name, frame.writeStream.format("memory").queryName(name).outputMode(mode))
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
    lastSink.put(prefix, name)
    name
  }

  /** The streaming-ingest fold: replays the staged increments of `stage`
    * (`maxFilesPerTrigger=1`: file k is micro-batch k) through a
    * foreachBatch step against this run's private copy of the `seed`
    * index — stage-and-copy: the fold's appends mutate the copy, never
    * the shared stage. `step` gets the copy's path once, before the
    * stream starts (a fold reads its frozen quantizers there), and
    * returns the per-batch step `(batch, batchId, outDir)`; each
    * micro-batch is persisted around it. Returns the parquet the steps
    * appended to `outDir`, read lazily from the entry's run dir.
    */
  def fold(s: SparkSession, d: String, entry: String, stage: Artifact[String],
      seed: Artifact[String], schema: StructType)(
      step: String => (DataFrame, Long, String) => Unit): DataFrame = {
    val stageDir = stage(s, d)
    val work = runDir(entry)
    copyTree(Paths.get(seed(s, d)), work.resolve("idx"))
    val batchStep = step(work.resolve("idx").toString)
    val out = work.resolve("out").toString
    drain(s, work.getFileName.toString,
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(stageDir)
        .writeStream.foreachBatch { (b: DataFrame, bid: Long) =>
          val batch = b.persist()
          try batchStep(batch, bid, out)
          finally { batch.unpersist(blocking = false); () }
        })
    s.read.parquet(out)
  }

  /** Recursive local-fs copy of a staged index tree into a run's work
    * dir. The copy is the run's to mutate; the stage stays pristine.
    */
  private def copyTree(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Option(target.getParent).foreach(Files.createDirectories(_))
        Files.copy(p, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  /** Every streaming query runs on a CLONED session (isolated runtime
    * conf), and the clone's `StreamingQueryManager` registers its own
    * `StreamingQueryListenerBus` on the shared `LiveListenerBus` —
    * which nothing ever unregisters when the query stops: a 24-replay
    * probe session had 19 dead buses attached, every Spark event
    * fanning out to each of them. Unregister every
    * StreamingQueryListenerBus except the root session's own after
    * each replay. All touched members are private[spark]/private[sql]
    * (bytecode-public), hence reflection; best-effort — a Spark
    * upgrade that breaks a lookup degrades to the old leaky behavior,
    * never to an error.
    */
  private def pruneDeadStreamingListenerBuses(s: SparkSession): Unit = try {
    val sc = s.sparkContext
    val own = {
      val mgr = s.streams
      mgr.getClass.getDeclaredFields
        .find(_.getType.getName.endsWith("StreamingQueryListenerBus"))
        .map { f => f.setAccessible(true); f.get(mgr) }.orNull
    }
    if (own != null) {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val all = bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[AnyRef]]
      // SparkListenerInterface itself is private[spark], so the remove
      // call goes through reflection too (removeListener on the bus)
      val remove = bus.getClass.getMethods
        .find(m => m.getName == "removeListener" && m.getParameterCount == 1)
      // snapshot first: removeListener mutates the backing list
      val dead = new java.util.ArrayList[AnyRef]()
      all.forEach { l =>
        if (l.getClass.getName.endsWith("StreamingQueryListenerBus") && (l ne own))
          dead.add(l)
      }
      dead.forEach(l => remove.foreach(_.invoke(bus, l)))
    }
  } catch { case scala.util.control.NonFatal(_) => () }
}
