package graft

/** Overlap independent eager job chains (optimization guide §2.6).
  *
  * Many operators materialize several INDEPENDENT intermediates
  * (per-tier beam probes, an exact baseline, per-tier ranked frames)
  * with `localCheckpoint`, and under AQE each materialization is a
  * serial chain of small jobs submitted at DataFrame-construction
  * time. Run sequentially, each chain leaves most cores idle (the
  * frames are query-sized); submitted from separate threads, the
  * scheduler back-fills the idle capacity and construction wall-time
  * drops to roughly the longest single chain. At a lower core count
  * the same chains simply interleave under FIFO scheduling — total
  * work is unchanged, so the low-core bench stays comparable.
  *
  * Thunks must be independent (no thunk may consume another's frame);
  * each runs exactly once and failures rethrow the original cause so
  * error semantics match the sequential form.
  */
object Par {
  def run[A](thunks: (() => A)*): IndexedSeq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_()).toIndexedSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val fs = thunks.map(t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          override def call(): A = t()
        }))
      fs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // best-effort cancellation before rethrowing: interrupting
            // the sibling submitter threads can stop them before they
            // submit further jobs, but Spark jobs already running are
            // not cancelled and run to completion
            pool.shutdownNow()
            fs.foreach(_.cancel(true))
            throw e.getCause
        }
      }.toIndexedSeq
    } finally pool.shutdown()
  }

  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run[Any](a.asInstanceOf[() => Any], b.asInstanceOf[() => Any])
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
