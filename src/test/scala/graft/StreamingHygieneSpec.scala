package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.StreamingQueries

/** Every graded streaming key leaves the session as it found it: no
  * temp view (a memory sink's view keeps all its rows alive for the
  * life of the JVM, even after q.stop()), no active stream and no live
  * non-daemon thread survives the key. Also pins that the parquet-sink
  * replays run no shuffle in their streaming plans, which is why the
  * replay's row-derived partition count cannot change them. */
class StreamingHygieneSpec extends SparkTestBase {

  private val fileSinkKeys = Set("stream_sink", "stream_zorder_ingest", "stream_nsw_ingest")

  test("no streaming key leaves a temp view, an active stream or a non-daemon thread behind") {
    val sc = spark.sparkContext
    // query ids of replays without a query name (file and foreachBatch
    // sinks), and the stage count of every job a streaming query ran
    val unnamed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val streamJobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val ql = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == null) unnamed.add(e.id.toString)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => streamJobs.add((id, e.stageInfos.size)))
    }
    def views() = spark.catalog.listTables().collect().map(_.name).toSet
    def streams() = spark.streams.active.map(_.id).toSet
    def threads() = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    spark.streams.addListener(ql)
    sc.addSparkListener(jl)
    try {
      for (key <- StreamingQueries.queries.keys.toSeq.sorted) {
        val (v0, s0, t0) = (views(), streams(), threads())
        streamJobs.clear(); unnamed.clear()
        StreamingQueries.queries(key)(spark, sfDir).collect()
        assert(views() == v0, s"$key left temp views ${views() -- v0}")
        assert(streams() == s0, s"$key left active streams ${streams() -- s0}")
        // a thread that has been told to stop may take a moment to exit
        val end = System.currentTimeMillis() + 5000
        while ((threads() -- t0).nonEmpty && System.currentTimeMillis() < end) Thread.sleep(20)
        assert((threads() -- t0).isEmpty,
          s"$key left non-daemon threads ${(threads() -- t0).map(_.getName)}")
        if (fileSinkKeys(key)) {
          org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(sc, 10000L)
          val sinkJobs = streamJobs.asScala.filter { case (id, _) => unnamed.contains(id) }
          assert(sinkJobs.nonEmpty, s"$key ran no file-sink micro-batch job")
          assert(sinkJobs.forall(_._2 == 1),
            s"$key ran a shuffle in its file-sink streaming plan: $sinkJobs")
        }
      }
    } finally {
      sc.removeSparkListener(jl)
      spark.streams.removeListener(ql)
    }
  }
}
