package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, SparkEntry}

/** The one dev entry point, on Bench's session (`Bench.session`: the
  * SPARK_GRAFT_CPUS cores and Bench's confs), so a tool times and
  * explains the plan Bench times. Each command's core takes the
  * session, so a spec runs it on the shared test session.
  * Exit code: 0 done, 1 a key threw or the smoke query returned no
  * rows, 2 an unknown command or key (the usage is printed). */
object Run {
  val Usage: String =
    """usage: graft.tools.Run <cmd> [args]
      |  list                            every registry key, sorted
      |  explain <sf> <key>              the optimized logical plan, then the formatted physical plan
      |  time <sf> <key...>              Bench's warm-up, then Bench's min-of-3 per key
      |  profile <sf> <key...>           per key, a warm run, then the jobs (wall, gaps) and executed plans of a second run
      |  smoke                           the flagship entry query; its row count must be > 0
      |  plans                           rewrite PLANS.md; sections it does not generate are kept
      |  gen-scale <src> <dst> <copies>  a sf dir of <copies> key-shifted replicas of <src>
      |  scale <n> [probe...]            the synthetic-corpus scale probes at n rows""".stripMargin

  def main(args: Array[String]): Unit = sys.exit(args.toSeq match {
    case Seq("list") => list.foreach(println); 0 // needs no session
    case cmd => parse(cmd) match {
      case Left(err) =>
        System.err.println(s"[run] $err\n$Usage")
        2
      case Right(body) =>
        val spark = Bench.session()
        try body(spark) finally spark.stop()
    }
  })

  /** The command `args` names, as a body that runs it on a session and
    * returns the exit code, or why `args` names none. */
  private[graft] def parse(args: Seq[String]): Either[String, SparkSession => Int] = {
    val registry = SparkEntry.queries
    def known(keys: Seq[String])(body: SparkSession => Int) =
      keys.filterNot(registry.contains) match {
        case Seq() => Right(body)
        case bad => Left(s"unknown key(s): ${bad.mkString(", ")}")
      }
    args match {
      case Seq("explain", sf, key) =>
        known(Seq(key)) { s => println(explain(s, sf, key)); 0 }
      case Seq("time", sf, keys @ _*) if keys.nonEmpty => known(keys) { s =>
        Bench.warm(s, sf)
        val (_, errors) = time(s, sf, keys)
        if (errors.nonEmpty)
          System.err.println(s"[run] ${errors.size} key(s) failed: ${errors.keys.mkString(", ")}")
        if (errors.isEmpty) 0 else 1
      }
      case Seq("profile", sf, keys @ _*) if keys.nonEmpty => known(keys) { s =>
        Bench.warm(s, sf)
        keys.foreach(k => report(profile(s, sf, k)))
        0
      }
      case Seq("smoke") => Right(s => if (smoke(s) > 0) 0 else 1)
      case Seq("plans") => Right { s => PlanAudit.run(s); 0 }
      case Seq("gen-scale", src, dst, copies) if copies.toIntOption.exists(_ > 0) =>
        Right { s => GenScale.run(s, src, dst, copies.toInt); 0 }
      case Seq("scale", n, probes @ _*) if n.toLongOption.exists(_ > 0) =>
        Right { s => ScaleProbe.run(s, n.toLong, probes); 0 }
      case _ => Left(s"unknown command: ${args.mkString(" ")}")
    }
  }

  def list: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** `key`'s optimized logical plan, then its formatted physical plan. */
  def explain(spark: SparkSession, sf: String, key: String): String = {
    val qe = SparkEntry.queries(key)(spark, sf).queryExecution
    "== Optimized Logical Plan ==\n" + qe.optimizedPlan.treeString + "\n" +
      qe.explainString(FormattedMode)
  }

  /** Bench's min-of-3 per key (Bench.timeRuns), each key's runs printed
    * as it finishes. A key that throws is recorded in the returned
    * errors, not timed, and the remaining keys still run. */
  def time(spark: SparkSession, sf: String, keys: Seq[String])
      : (Map[String, Double], scala.collection.Map[String, Throwable]) = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    val mins = keys.flatMap { k =>
      val fn = SparkEntry.queries(k)
      Bench.timeRuns(k, 3, errors)(Bench.consume(fn(spark, sf))).map { ts =>
        println(f"[time] $k%-24s min=${ts.min}%.3f s  " +
          f"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
        k -> ts.min
      }
    }.toMap
    (mins, errors)
  }

  final case class Job(id: Int, start: Long, desc: String) {
    @volatile var end: Long = -1L
  }

  /** What `profile`'s listeners recorded of one run of `key`. */
  final class Profile(val key: String) {
    @volatile var wall: Double = 0.0
    val jobs = new ConcurrentHashMap[Int, Job]()
    /** Stages of ≥ 0.2 s, one line each, in completion order. */
    val stages = new ConcurrentLinkedQueue[String]()
    /** The executed plan of every action, in completion order. */
    val plans = new ConcurrentLinkedQueue[String]()
  }

  /** Runs `key` once to warm its layouts and codegen, then records a
    * second run: per job its wall and the gap before it (driver-side
    * work), the slow stages, and each action's executed plan — the
    * evidence a composite or streaming key's own `explain` cannot show.
    * Both listeners are detached before this returns. */
  def profile(spark: SparkSession, sf: String, key: String): Profile = {
    val fn = SparkEntry.queries(key)
    Bench.consume(fn(spark, sf))
    val p = new Profile(key)
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val jobs = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse("")
        p.jobs.put(js.jobId, Job(js.jobId, js.time, d))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(p.jobs.get(je.jobId)).foreach(_.end = je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val jid = stageToJob.getOrDefault(si.stageId, -1)
        if (p.jobs.containsKey(jid)) {
          val dur = (for (a <- si.completionTime; b <- si.submissionTime)
            yield (a - b) / 1e3).getOrElse(-1.0)
          if (dur >= 0.2) p.stages.add(f"stage ${si.stageId}%4d job $jid%4d ${dur}%7.3f s " +
            f"${si.numTasks}%4d tasks  ${si.name.takeWhile(_ != '\n').take(70)}")
        }
      }
    }
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        // executed plan, capped: the tree's head carries the shape
        // (exchanges, partition counts, join strategies)
        p.plans.add(f"[$funcName] ${durationNs / 1e9}%.3f s\n" +
          qe.executedPlan.treeString.linesIterator.take(80).mkString("\n"))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        p.plans.add(s"[$funcName] FAILED: $exception")
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    try {
      val t0 = System.nanoTime()
      Bench.consume(fn(spark, sf))
      p.wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(sc, 10000L)
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
    p
  }

  private def report(p: Profile): Unit = {
    val js = p.jobs.values.asScala.toSeq.sortBy(_.start)
    println(f"[prof] ${p.key} wall=${p.wall}%.3f s, ${js.size} jobs")
    println(f"[prof]   sum(job wall)=${js.map(j => math.max(0L, j.end - j.start)).sum / 1e3}%.3f s " +
      "(gaps = driver-side work)")
    var prevEnd = 0L
    js.foreach { j =>
      val dur = (j.end - j.start) / 1e3
      val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.end)
      if (dur >= 0.01 || gap >= 0.01)
        println(f"[prof]   job ${j.id}%4d ${dur}%7.3f s  gap=${gap}%6.3f  ${j.desc.take(60)}")
    }
    p.stages.forEach(l => println(s"[prof]     $l"))
    p.plans.asScala.zipWithIndex.foreach { case (plan, i) =>
      println(f"\n== ${p.key} plan ${i + 1}%d $plan")
    }
  }

  /** The smoke check: the flagship entry query's row count, which must
    * be > 0 (rank 1 is the query itself at score 1.0). */
  def smoke(spark: SparkSession): Long = {
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    n
  }
}
