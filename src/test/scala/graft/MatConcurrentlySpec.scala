package graft

import org.apache.spark.TaskContext

/** Mat.concurrently's failure path: a failing branch cancels its
  * siblings' Spark jobs, and none is still running when it rethrows. */
class MatConcurrentlySpec extends SparkTestBase {

  test("a failing branch cancels the sibling's running Spark job before concurrently rethrows") {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
      cond
    }
    assert(waitFor(30000)(tracker.getActiveJobIds.isEmpty), "jobs left over from earlier specs")
    // the group lets the finally below stop a job that outlived the call
    sc.setJobGroup("mat-concurrently-pin", "Mat.concurrently cancellation pin")
    try {
      val e = intercept[IllegalStateException] {
        Mat.concurrently(
          () => {
            assert(waitFor(30000)(tracker.getActiveJobIds.nonEmpty), "slow job never started")
            throw new IllegalStateException("branch A failed")
          },
          () => sc.parallelize(1 to 2, 2).foreach(_ => MatConcurrentlySpec.slowTask()))
      }
      assert(e.getMessage == "branch A failed")
      // the sibling's runJob has returned; its JobEnd event may still be
      // in flight on the listener bus, so allow a moment — far below
      // the minute the slow job would run if it were not cancelled
      assert(waitFor(5000)(tracker.getActiveJobIds.isEmpty),
        s"sibling job still running after rethrow: ${tracker.getActiveJobIds.mkString(",")}")
    } finally {
      sc.cancelJobGroup("mat-concurrently-pin")
      sc.clearJobGroup()
    }
  }
}

object MatConcurrentlySpec {
  /** Runs up to a minute, returning as soon as its task is killed. */
  def slowTask(): Unit = {
    val tc = TaskContext.get()
    val end = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
  }
}
