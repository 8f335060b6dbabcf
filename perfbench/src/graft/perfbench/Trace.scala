package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are taken around the benchmark's own
  * calls into each engine module; a span's parent is the span open on
  * the same thread when it started, and every span of one op carries
  * that op's id. While `recording` is off, `span` only runs its body. */
final class Tracer {
  @volatile var recording = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!recording) body
    else {
      val stack = open.get()
      val parent = stack.headOption.map(_._1).getOrElse(-1L)
      val opId = if (op >= 0) op else stack.headOption.map(_._2).getOrElse(-1L)
      val id = ids.incrementAndGet()
      open.set((id, opId) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, opId, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time: a span minus the union of its children's intervals. */
  def selfMs(sp: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.startNs max sp.startNs, c.endNs min sp.endNs))
      .filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (st, en) =>
      if (st > curE) { if (curE > curS) covered += curE - curS; curS = st; curE = en }
      else curE = curE max en
    }
    if (curE > curS) covered += curE - curS
    (sp.endNs - sp.startNs - covered) / 1e6
  }

  def toJson: String = {
    val byParent = all.groupBy(_.parent)
    all.map { sp =>
      Json.obj("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "op" -> sp.op,
        "start_ns" -> sp.startNs, "end_ns" -> sp.endNs,
        "self_ms" -> selfMs(sp, byParent.getOrElse(sp.id, Nil)))
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Per-op Spark counters, from listeners the benchmark registers for the
  * traced phase only, counting inside a workload's measured loop. Jobs are attributed to an op through the job tag
  * each client thread sets around its op (`Counters.tagOf`); task
  * metrics follow their stage's job. Untagged jobs (stream triggers run
  * on Spark's own threads) count toward the phase totals. */
final class Counters(spark: SparkSession) extends SparkListener {
  final class OpCounts {
    var jobs, stages, tasks = 0L
    var schedDelayMs, bytesRead, bytesWritten, shuffleBytes, spillBytes = 0L
    var cpuNs, runMs, gcMs = 0L
  }
  private val ops = mutable.Map.empty[Long, OpCounts]
  private val stageOp = mutable.Map.empty[Int, Long]
  val total = new OpCounts
  private val planningMs = new AtomicLong()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  @volatile private var active = false

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum
        planningMs.addAndGet(ms)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qel)
    spark.streams.addListener(sql)
  }
  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
    spark.streams.removeListener(sql)
  }

  /** Counts only what `body` runs: a workload's measured loop. */
  def counting[T](body: => T): T = {
    active = true
    try body finally {
      org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(spark.sparkContext, 30000L)
      active = false
    }
  }

  def planningTotalMs: Long = planningMs.get()
  def perOp: Map[Long, OpCounts] = synchronized(ops.toMap)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      val tags = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val op = tags.collectFirst { case t if t.startsWith(Counters.TagPrefix) =>
        t.stripPrefix(Counters.TagPrefix).toLong }.getOrElse(-1L)
      val c = ops.getOrElseUpdate(op, new OpCounts)
      c.jobs += 1; c.stages += js.stageInfos.size
      total.jobs += 1; total.stages += js.stageInfos.size
      js.stageIds.foreach(sid => stageOp(sid) = op)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    if (active && te.taskMetrics != null) {
      val m = te.taskMetrics
      val info = te.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      val op = stageOp.getOrElse(te.stageId, -1L)
      Seq(ops.getOrElseUpdate(op, new OpCounts), total).foreach { c =>
        c.tasks += 1
        c.schedDelayMs += delay
        c.bytesRead += m.inputMetrics.bytesRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
      }
    }
  }
}

object Counters {
  val TagPrefix = "perfbench-op-"
  def tagOf(op: Long): String = TagPrefix + op

  /** Run `body` with this thread's Spark jobs tagged as op `op`. */
  def tagged[T](spark: SparkSession, op: Long, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.addJobTag(tagOf(op))
      try body finally spark.sparkContext.removeJobTag(tagOf(op))
    }
}

/** Live heap of the driver JVM (where local-mode executors also run)
  * at the end of a measured phase: heap occupancy right after a full
  * collection, taken once the phase's timings are done. Nothing a phase
  * keeps (indexes, stream state, caches, memos) shrinks while it runs,
  * so this is the phase's retained-memory high-water mark; a sampled
  * peak of used heap would mostly show how full the young generation
  * got before the collector ran, which varies from run to run. */
object LiveHeap {
  def mb(): Double = {
    // the second collection frees what Spark's ContextCleaner releases
    // (broadcast and shuffle blocks) once the first has cleared its refs;
    // the pause after it keeps that cleanup out of the next phase
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Thread.sleep(300)
    used / (1024.0 * 1024.0)
  }
}
