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
  * error semantics match the sequential form. The first failure
  * cancels the siblings: their threads are interrupted, and once they
  * have ended (or after 10 s) every Spark job they started is cancelled
  * through a job tag unique to this run (a tag leaves the caller's job
  * group and local properties alone). Cancelling after the threads end
  * also catches a job a sibling submits between its interrupt and its
  * exit; only a sibling that ignores its interrupt past 10 s can still
  * start one that runs on.
  */
object Par {
  def run[A](thunks: (() => A)*): IndexedSeq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_()).toIndexedSeq
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
    try {
      val fs = thunks.map(t => done.submit(() => {
        sc.addJobTag(tag)
        try t() finally sc.removeJobTag(tag)
      }))
      // completion order, not submission order: a failure is seen while
      // its siblings still run, not after they finish
      try thunks.foreach(_ => done.take().get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          pool.shutdownNow()
          pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
          sc.cancelJobsWithTag(tag)
          throw e.getCause
      }
      fs.map(_.get()).toIndexedSeq
    } finally pool.shutdown()
  }

  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run[Any](a.asInstanceOf[() => Any], b.asInstanceOf[() => Any])
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
