package graft

/** Driver-side job overlap for the composed pipelines (guide §2.6
  * "Overlap independent jobs"): Spark's scheduler happily runs several
  * jobs at once inside one application — the ledger pipelines'
  * micro-stages are only sequential because the driver calls their
  * actions sequentially. Where two stages are INDEPENDENT readers of
  * already-committed state (e.g. an increment's kept-part write and
  * its histogram write, both consuming the same checkpointed frame),
  * submitting them from two driver threads lets the second job's tasks
  * back-fill executors freed by the first job's tail instead of
  * waiting for its driver sync.
  *
  * This must never reorder DURABLE COMMIT POINTS: callers only overlap
  * actions that sit between the same two commit points of their
  * recovery contract, so a crash mid-overlap leaves a state any replay
  * already handles (idempotent overwrites). The barrier at the end of
  * [[all]] re-establishes the contract's ordering before the next
  * commit point.
  *
  * Thread-safety notes: Spark local properties (job description/group)
  * are InheritableThreadLocal, so threads created here inherit the
  * caller's labels; concurrent first-materialization of a persisted /
  * checkpointed frame is serialized per block by the BlockManager.
  * Failures propagate: the first thunk exception is rethrown in the
  * caller after all thunks finish (a half-failed overlap must not let
  * the caller commit). */
object Overlap {

  /** Run the thunks concurrently, wait for ALL of them (even after a
    * failure — no thunk may still be running when the caller resumes),
    * then rethrow the first failure if any. */
  def all(thunks: (() => Unit)*): Unit = {
    map(thunks, thunks.size)(_())
    ()
  }

  /** `xs.map(f)` on at most `width` driver threads, results in `xs`
    * order. Same contract as [[all]]: every element runs, even after a
    * failure, and no thread is still running when this returns; then
    * the first failure, if any, is rethrown. */
  def map[A, B](xs: Seq[A], width: Int)(f: A => B): Seq[B] = {
    val in = xs.toIndexedSeq
    val out = new Array[Any](in.size)
    val next = new java.util.concurrent.atomic.AtomicInteger
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val worker: Runnable = () => {
      var i = next.getAndIncrement()
      while (i < in.size) {
        try out(i) = f(in(i)) catch { case e: Throwable => errs.add(e); () }
        i = next.getAndIncrement()
      }
    }
    val n = math.min(width, in.size)
    if (n <= 1) worker.run()
    else {
      val threads = (0 until n).map { i =>
        val th = new Thread(worker, s"graft-overlap-$i")
        th.setDaemon(true)
        th.start()
        th
      }
      threads.foreach(_.join())
    }
    val e = errs.poll()
    if (e != null) throw e
    out.toSeq.asInstanceOf[Seq[B]]
  }
}
