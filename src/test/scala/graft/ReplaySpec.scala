package graft

import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.{Replay, StreamingQueries}

/** The streaming Replay's contract: state partitions sized from the fed
  * rows, session conf restored on every exit, and background writes
  * that never outlive (or get swallowed by) the replay. */
class ReplaySpec extends SparkTestBase {
  import spark.implicits._

  private val partsKey = "spark.sql.shuffle.partitions"
  private val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
    cond
  }

  private def confs() = (spark.conf.get(partsKey), spark.conf.get(ndKey))

  test("a replay's stateful operator runs at Mat.loopPartitions of the fed rows") {
    val cap = spark.sessionState.conf.numShufflePartitions
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => parts.add(op.numShufflePartitions))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      for (n <- Seq(1L, 8192L, 8193L, cap * 8192L + 1)) {
        val before = confs()
        parts.clear()
        val rows = (0L until n).toArray
        val out = Replay.memory(spark, StreamingQueries.splitN(rows, 2), "complete") { ds =>
          ds.toDF("x").groupBy((col("x") % 3).as("k")).count()
        }
        assert(out.agg(sum("count")).head.getLong(0) == n)
        org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(spark.sparkContext, 10000L)
        assert(parts.size > 0, s"n=$n: no state operator progress")
        assert(parts.asScala.toSet == Set(Mat.loopPartitions(spark, n).toLong), s"n=$n")
        assert(confs() == before, s"n=$n: session conf not restored")
      }
      assert(Mat.loopPartitions(spark, cap * 8192L + 1) == cap)
    } finally spark.streams.removeListener(l)
  }

  test("a replay whose query fails restores the session conf and leaves nothing running") {
    val before = confs()
    val views = spark.catalog.listTables().collect().map(_.name).toSet
    intercept[Exception] {
      Replay.memory(spark, Seq(Seq(1L), Seq(2L)), "complete") { ds =>
        ds.map(x => if (x == 2L) throw new IllegalStateException("boom") else x)
          .toDF("x").groupBy("x").count()
      }
    }
    assert(confs() == before)
    assert(spark.streams.active.isEmpty)
    assert(spark.catalog.listTables().collect().map(_.name).toSet == views)
  }

  test("withBackground: a failing body cancels a running background write before rethrowing") {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    assert(waitFor(30000)(tracker.getActiveJobIds.isEmpty), "jobs left over from earlier specs")
    // the group lets the finally below stop a job that outlived the call
    sc.setJobGroup("with-background-pin", "Mat.withBackground cancellation pin")
    try {
      val writer = new AtomicReference[Thread]()
      val e = intercept[IllegalStateException] {
        Mat.withBackground(1) { bg =>
          bg.submit {
            writer.set(Thread.currentThread())
            sc.parallelize(1 to 2, 2).foreach(_ => MatConcurrentlySpec.slowTask())
          }
          assert(waitFor(30000)(tracker.getActiveJobIds.nonEmpty), "slow write never started")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(waitFor(5000)(tracker.getActiveJobIds.isEmpty),
        s"background write still running after rethrow: ${tracker.getActiveJobIds.mkString(",")}")
      assert(!writer.get.isAlive, "background thread outlived withBackground")
    } finally {
      sc.cancelJobGroup("with-background-pin")
      sc.clearJobGroup()
    }
  }

  test("a failing background write surfaces as the replay's exception") {
    val before = confs()
    Mat.withScratchDirs("replay_bg_ckpt") { case Seq(ckpt) =>
      val e = intercept[IllegalStateException] {
        Replay(spark, Replay.feed(Seq(Seq(1L), Seq(2L), Seq(3L)),
            Replay.Batches(ckpt) { (bg, _, id) =>
              bg.submit(throw new IllegalStateException(s"write $id failed"))
            })(_.toDF("x")))
      }
      assert(e.getMessage.matches("write \\d+ failed"), e.getMessage)
    }
    assert(confs() == before)
    assert(spark.streams.active.isEmpty)
  }
}
