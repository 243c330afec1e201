package graft.ops

/**
 * Overlap INDEPENDENT Spark actions from a bounded driver thread pool
 * (optimization guide §2.6): Spark's scheduler happily runs several
 * jobs at once inside one application — actions are only sequential
 * because driver code calls them sequentially. The lifecycle gates
 * (q166/q179/q186/q189) and their audits are chains of independent
 * table writes and O(index) audit counts, each of which uses a
 * handful of tasks at a time on local[32]; running them one after
 * another leaves most cores idle for the whole chain. Submitting the
 * independent ones together lets each job's tasks back-fill the
 * executor threads freed by the others' tails.
 *
 * Semantics: this changes WHEN actions run, never what they compute —
 * callers only pass thunks with no data dependencies between them
 * (disjoint output tables / independent counts over already-written
 * inputs). Results return in input order; the first failure rethrows
 * its original cause (not the ExecutionException wrapper) so error
 * classes are unchanged. On that first failure the pool's job group
 * is CANCELLED (round-16 advice fix: a hung sibling write used to
 * convert a fast gate failure into an up-to-an-hour driver stall
 * while the in-flight action kept running) and every sibling future
 * is still awaited — a failed gate must not leave a concurrent write
 * racing the caller's cleanup — with sibling failures attached as
 * suppressed exceptions instead of silently dropped. A thunk still
 * QUEUED when a sibling fails never starts: the failing leg raises a
 * shared cancelled flag before its pool thread can pick up the next
 * thunk, and a thunk that finds the flag up throws
 * CancellationException instead of running (attached as suppressed).
 *
 * FIFO scheduling (the default) is exactly the back-fill behaviour
 * wanted here; the pool is small (≤4) so concurrent jobs fill the
 * stage tails without thrashing the scheduler. Nested use (a
 * parallelized helper called from a parallelized call site) just
 * makes a second small pool — bounded by the call graph, which is
 * two levels deep at most.
 */
private[graft] object Par {
  def run[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    // captured on the CALLER thread (getActiveSession is thread-local;
    // pool threads would see none)
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val gid = "graft-par-" + java.util.UUID.randomUUID().toString
    def unwrap(e: Throwable): Throwable = e match {
      case ee: java.util.concurrent.ExecutionException =>
        Option(ee.getCause).getOrElse(ee)
      case other => other
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, thunks.length))
    // raised by the first failing leg on its own pool thread, i.e.
    // before that thread can dequeue another thunk
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = {
            if (cancelled.get())
              throw new java.util.concurrent.CancellationException(
                "graft.Par: a sibling leg failed before this one started")
            // one shared group per Par.run: the first failure can then
            // cancel every in-flight sibling with one call (job groups
            // are thread-local, so this tags only the pool's jobs)
            session.foreach(_.sparkContext
              .setJobGroup(gid, "graft.Par", interruptOnCancel = true))
            try t()
            catch { case e: Throwable => cancelled.set(true); throw e }
            finally session.foreach(_.sparkContext.clearJobGroup())
          }
        })
      }
      val results = new Array[Any](futs.length)
      var failure: Throwable = null
      futs.zipWithIndex.foreach { case (f, i) =>
        if (failure == null) {
          try results(i) = f.get()
          catch {
            case e: Throwable =>
              failure = unwrap(e)
              // stop the siblings now — their results are unusable and
              // a hung one must not stall the driver for the full pool
              // drain; their futures are still awaited below so no
              // write keeps racing the caller's cleanup
              session.foreach(_.sparkContext.cancelJobGroup(gid))
          }
        } else {
          try { f.get(); () }
          catch {
            case e: Throwable =>
              val c = unwrap(e)
              if (c ne failure) failure.addSuppressed(c)
          }
        }
      }
      if (failure != null) throw failure
      results.toSeq.asInstanceOf[Seq[A]]
    } finally {
      // every future was get()-awaited above (success or failure), so
      // the pool is idle here — the bound only guards a pathological
      // interrupt race, not an in-flight job
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      ()
    }
  }

  /** Two-result convenience over [[run]]. */
  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run(Seq(() => a().asInstanceOf[Any], () => b().asInstanceOf[Any]))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
