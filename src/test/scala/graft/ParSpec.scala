package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}

class ParSpec extends SparkSpec {

  test("a failing thunk cancels the Spark job its sibling is running") {
    val sc = spark.sparkContext
    val marker = s"par-spec-${java.util.UUID.randomUUID}"
    val slowJobs = ConcurrentHashMap.newKeySet[Int]()
    val ended = new ConcurrentHashMap[Int, String]()
    val slowStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("par.spec") == marker)) {
          slowJobs.add(e.jobId); slowStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId,
          if (e.jobResult == JobSucceeded) "succeeded" else "failed")
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Par.run2(
          () => {
            sc.setLocalProperty("par.spec", marker)
            // a 20 s job unless killed: each task polls for its kill
            sc.parallelize(1 to 2, 2).map { x =>
              val end = System.nanoTime() + 20000000000L
              while (System.nanoTime() < end &&
                  !TaskContext.get().isInterrupted()) Thread.sleep(20)
              x
            }.count()
          },
          () => {
            assert(slowStarted.await(30, TimeUnit.SECONDS))
            throw new IllegalStateException("sibling failed")
          })
      }
      assert(e.getMessage == "sibling failed")
      val deadline = System.nanoTime() + 15000000000L
      def slowEnded = !slowJobs.isEmpty &&
        slowJobs.stream().allMatch(ended.containsKey(_))
      while (!slowEnded && System.nanoTime() < deadline) Thread.sleep(50)
      assert(slowEnded, "the sibling's job is still running")
      slowJobs.forEach(id => assert(ended.get(id) == "failed", ended))
      assert(System.nanoTime() - t0 < 15000000000L)
    } finally sc.removeSparkListener(listener)
  }
}
