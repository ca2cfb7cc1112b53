package graft.operators

/** Driver-side helper for overlapping INDEPENDENT Spark actions — the
  * optimization-guide §2.6 shape: actions are only sequential because
  * driver code calls them sequentially, so two writes with no data
  * dependency (disjoint output directories, deterministic inputs) can
  * share the session and back-fill each other's stage tails. Spark
  * schedules concurrent driver-thread jobs FIFO; job description /
  * group properties are thread-local, so each action keeps its own
  * labels.
  */
private[graft] object Actions {

  /** Run the actions on daemon threads, wait for all and return their
    * results in argument order; the first throwable (in argument order)
    * propagates. Callers own the torn-state semantics on partial
    * failure — identical in kind to the sequential form (some outputs
    * written, some not), which is why this is only for writes whose
    * caller already documents that window (index files staged before
    * the manifest commits, a replay marker written strictly after).
    * Spark's local properties (job group, description) are inherited
    * by the threads.
    */
  def runConcurrently[A](fs: (() => A)*): Seq[A] = {
    require(fs.nonEmpty, "no actions to run")
    val errs = new java.util.concurrent.atomic.AtomicReferenceArray[Throwable](fs.size)
    val out = new java.util.concurrent.atomic.AtomicReferenceArray[Any](fs.size)
    val ts = fs.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() =>
        try out.set(i, f()) catch { case e: Throwable => errs.set(i, e); () })
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    (0 until fs.size).foreach { i =>
      Option(errs.get(i)).foreach(throw _)
    }
    (0 until fs.size).map(i => out.get(i).asInstanceOf[A])
  }
}
