package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One op's outcome in a measured phase (an op is a serve request or an
  * ingest trigger). */
final case class Op(startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What one measured phase produced. `docsWallS` is the wall time the
  * workload's docs_per_s divides by (ingest adds its merge to it). */
final case class Measured(ops: Seq[Op], wallS: Double, memMb: Double,
    queries: Long, docs: Long, docsWallS: Double)

/** A workload runs in its own JVM and SparkSession: nothing it memoizes
  * or re-tunes in the session can leak into another workload. */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer) {
  def sizes: Map[String, Any]
  /** Writes the seeded input tables (timed as gen_s, outside setup_s). */
  def gen(): Unit
  /** One full index build into fresh directories (setup_s is the median). */
  def setup(rep: Int): Unit
  /** Output audits that need the built indexes; also warms the path. */
  def prepare(): Unit
  def measure(seconds: Double, traced: Boolean): Measured
  /** Traced run only: calls that split a layer's time into its parts. */
  def decompose(): Unit = ()
  /** Final output checks; throws on any mismatch. */
  def check(): Unit
  /** recall@10 of the coded-IVF tier against exact cosine top-10. */
  def recallAt10: Double
  /** Per-layer values the workload computes itself. */
  def layerExtras(traced: Measured, counters: Counters): Map[String, Double] = Map.empty

  /** Set for the traced phase: the closed loop counts Spark work into it. */
  @volatile var counters: Option[Counters] = None

  /** Closed loop: `clients` threads each issue their next op as soon as
    * the previous one returns, until `seconds` have passed and at least
    * `minOps` ops have started. A thrown op is recorded as failed, never
    * timed as a result. */
  protected def closedLoop(clients: Int, seconds: Double, minOps: Int, traced: Boolean)
      (op: Long => Unit): (Seq[Op], Double) = {
    val next = new AtomicLong()
    val done = new ConcurrentLinkedQueue[Op]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var go = true
        while (go) {
          val i = next.getAndIncrement()
          if (i >= minOps && System.nanoTime() >= deadline) go = false
          else {
            val st = System.nanoTime()
            val ok = try {
              Counters.tagged(spark, i, traced)(tracer.span("op", i)(op(i))); true
            } catch {
              case NonFatal(e) =>
                System.err.println(s"[perfbench] op $i failed: $e"); e.printStackTrace(); false
            }
            done.add(Op(st, System.nanoTime(), ok))
          }
        }
      }, s"perfbench-client-$c")
    }
    def runAll(): Unit = { threads.foreach(_.start()); threads.foreach(_.join()) }
    if (traced) counters.fold(runAll())(_.counting(runAll())) else runAll()
    (done.asScala.toSeq.sortBy(_.startNs), (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  /** Nearest-rank percentile; a failed op sorts as +inf, beyond every
    * latency (reported as 1e12 ms if a percentile lands on one). */
  def pct(ops: Seq[Op], p: Double): Double = {
    val xs = ops.map(o => if (o.ok) o.ms else Double.PositiveInfinity).sorted
    if (xs.isEmpty) 0.0
    else { val v = xs(math.max(0, math.ceil(p * xs.size).toInt - 1)); if (v.isInfinite) 1e12 else v }
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

object Main {
  val SetupReps = 3

  /** End-to-end metrics: name -> unit. Every workload reports every one;
    * the workload decides what its op, its queries and its docs are. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "mem_peak_mb" -> "MB", "req_p50_ms" -> "ms",
    "req_per_s" -> "1/s", "queries_per_s" -> "1/s", "docs_per_s" -> "1/s",
    "recall_at_10" -> "frac")

  /** Per-layer metrics: name -> unit. Layers a workload does not touch
    * read 0. Span names equal the metric names. */
  val SpanMs: Seq[String] = Seq("IvfIndex.route_ms", "ServeE2e.stage1_ms", "Bm25.score_ms",
    "BinaryQuant.probe_ms", "ServeE2e.stage2_ms", "ServeE2e.fetch_ms", "Mmr.select_ms",
    "Bm25.shard_write_ms", "BinaryQuant.shard_write_ms")
  val SpanS: Seq[String] = Seq("Knn.topk_s", "BinaryQuant.batch_probe_s", "Bm25.merge_s",
    "IvfIndex.merge_s", "Bm25.layout_build_s", "IvfIndex.train_s",
    "BinaryQuant.layout_build_s", "ServeE2e.emb_by_id_build_s", "gen_s")
  val PerLayer: Seq[(String, String)] =
    SpanMs.map(_ -> "ms") ++ SpanS.map(_ -> "s") ++ Seq(
      "Knn.pairs_per_s" -> "1/s",
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.planning_ms_per_op" -> "ms",
      "spark.sched_delay_ms_per_op" -> "ms", "Tables.bytes_read_per_op" -> "B",
      "spark.executor_cpu_s" -> "s", "spark.core_busy_frac" -> "frac", "spark.gc_ms" -> "ms",
      "Tables.bytes_written_per_input_byte" -> "ratio", "spark.shuffle_bytes" -> "B",
      "spark.spill_bytes" -> "B",
      "streaming.addBatch_ms" -> "ms", "streaming.queryPlanning_ms" -> "ms",
      "streaming.walCommit_ms" -> "ms", "streaming.commitOffsets_ms" -> "ms",
      "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
      "streaming.state_bytes" -> "B",
      "trace.span_coverage" -> "frac") ++
      EndToEnd.map { case (n, u) => s"trace.overhead.$n" -> u }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val work = a("work"); val out = a("out")
    val code = try run(workload, seed, seconds, traced, work, out, a) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $workload failed: $e"); e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, work: String,
      out: String, a: Map[String, String]): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$nproc]").appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    try {
      val wl: Workload = name match {
        case "serve_hybrid" => new ServeHybrid(spark, work, seed, tracer)
        case "stream_ingest" => new StreamIngest(spark, work, seed, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val phaseS = scala.collection.mutable.LinkedHashMap("session" -> sessionS)
      def phase[T](n: String)(body: => T): T = {
        val st = System.nanoTime()
        try body finally phaseS(n) = (System.nanoTime() - st) / 1e9
      }
      tracer.recording = true
      phase("gen")(tracer.span("gen_s")(wl.gen()))
      val reps = (0 until SetupReps).map { r =>
        phase(s"setup$r")(wl.setup(r)); phaseS(s"setup$r")
      }
      tracer.recording = false
      phase("prepare")(wl.prepare())
      // a traced run splits its measured time: untraced half, then traced
      // half, so its overhead is read against the same run's own baseline
      val plain = phase("measure")(wl.measure(if (traced) seconds / 2 else seconds, traced = false))
      val counters = new Counters(spark)
      val tracedRun = if (!traced) None else {
        counters.start(); wl.counters = Some(counters); tracer.recording = true
        val m = try phase("measure_traced")(wl.measure(seconds / 2, traced = true)) finally {
          tracer.recording = false; wl.counters = None; counters.stop()
        }
        tracer.recording = true
        phase("decompose")(wl.decompose())
        tracer.recording = false
        Some(m)
      }
      tracer.recording = true
      phase("check")(wl.check())

      val setupS = sessionS + Stats.median(reps)
      def e2e(m: Measured): Map[String, Double] = {
        val ok = m.ops.count(_.ok)
        Map("setup_s" -> setupS, "mem_peak_mb" -> m.memMb,
          "req_p50_ms" -> Stats.pct(m.ops, 0.5),
          "req_per_s" -> ok / m.wallS, "queries_per_s" -> m.queries / m.wallS,
          "docs_per_s" -> m.docs / m.docsWallS, "recall_at_10" -> wl.recallAt10)
      }
      val phases = Seq(plain) ++ tracedRun
      val attempted = phases.map(_.ops.size).sum
      val failed = phases.map(_.ops.count(!_.ok)).sum
      val samples = Map("setup_s" -> SetupReps, "mem_peak_mb" -> 1,
        "req_p50_ms" -> plain.ops.size,
        "req_per_s" -> plain.ops.size, "queries_per_s" -> plain.ops.size,
        "docs_per_s" -> plain.ops.size, "recall_at_10" -> 1)
      println("perfbench-env " + Json.obj(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "sizes" -> wl.sizes, "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "commit" -> a.getOrElse("commit", "unknown"),
        "source_sha" -> a.getOrElse("source-sha", "unknown"),
        "phase_s" -> phaseS.toMap,
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap))
      println("perfbench-samples " + Json.value(samples))
      println("perfbench-op-ms " + Json.value(plain.ops.map(o => if (o.ok) o.ms else -1.0)))
      val metrics: Seq[(String, String, Double)] = tracedRun match {
        case None =>
          val v = e2e(plain)
          EndToEnd.map { case (n, u) => (n, u, v(n)) }
        case Some(tm) =>
          val layers = perLayer(tracer, counters, tm, wl) ++
            EndToEnd.map { case (n, _) => s"trace.overhead.$n" -> (e2e(tm)(n) - e2e(plain)(n)) }
          new java.io.File(out).mkdirs()
          val f = new java.io.File(out, s"trace_${name}_seed$seed.json")
          java.nio.file.Files.writeString(f.toPath, Json.obj(
            "workload" -> name, "seed" -> seed, "layers" -> layers,
            "untraced" -> e2e(plain), "traced" -> e2e(tm)).dropRight(1) +
            s""", "spans": ${tracer.toJson}}""")
          println(s"perfbench-trace-file ${f.getPath}")
          PerLayer.map { case (n, u) => (n, u, layers.getOrElse(n, 0.0)) }
      }
      println("perfbench-result " + Json.obj("correct" -> true, "attempted" -> attempted,
        "failed" -> failed, "metrics" -> metrics.map { case (n, u, v) =>
          n -> Map("value" -> v, "unit" -> u) }.toMap))
      0
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }

  /** Per-layer values of a traced run: span medians, listener counters
    * per op, streaming progress medians and the workload's own extras. */
  def perLayer(tr: Tracer, c: Counters, m: Measured, wl: Workload): Map[String, Double] = {
    val spans = (SpanMs.map(n => n -> Stats.median(tr.named(n).map(_.ms))) ++
      SpanS.map(n => n -> Stats.median(tr.named(n).map(_.ms / 1e3)))).toMap
    val nOps = math.max(1, m.ops.size)
    val byOp = c.perOp.filter(_._1 >= 0).values.toSeq
    // a tagged op's own counts when ops are tagged, else phase totals per op
    def perOp(f: c.OpCounts => Long): Double =
      if (byOp.nonEmpty) Stats.median(byOp.map(o => f(o).toDouble)) else f(c.total).toDouble / nOps
    val t = c.total
    val counts = Map(
      "spark.jobs_per_op" -> perOp(_.jobs), "spark.stages_per_op" -> perOp(_.stages),
      "spark.tasks_per_op" -> perOp(_.tasks),
      "spark.planning_ms_per_op" -> c.planningTotalMs.toDouble / nOps,
      "spark.sched_delay_ms_per_op" -> perOp(_.schedDelayMs),
      "Tables.bytes_read_per_op" -> perOp(_.bytesRead),
      "spark.executor_cpu_s" -> t.cpuNs / 1e9 / nOps,
      "spark.core_busy_frac" ->
        t.runMs / 1e3 / (m.wallS * Runtime.getRuntime.availableProcessors()),
      "spark.gc_ms" -> t.gcMs.toDouble / nOps,
      "spark.shuffle_bytes" -> t.shuffleBytes.toDouble / nOps,
      "spark.spill_bytes" -> t.spillBytes.toDouble / nOps)
    // one trigger = one batch id; its phases sum over the queries it ran in
    val prog = c.progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def trig(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      Stats.median(prog.groupBy(_.batchId).values.map(_.map(f).sum).toSeq)
    def dur(k: String)(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val states = prog.filter(_.stateOperators.nonEmpty)
    val streaming = Map(
      "streaming.addBatch_ms" -> trig(dur("addBatch")),
      "streaming.queryPlanning_ms" -> trig(dur("queryPlanning")),
      "streaming.walCommit_ms" -> trig(dur("walCommit")),
      "streaming.commitOffsets_ms" -> trig(dur("commitOffsets")),
      "streaming.state_commit_ms" ->
        Stats.median(states.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)),
      "streaming.state_rows" -> states.lastOption
        .map(_.stateOperators.map(_.numRowsTotal.toDouble).sum).getOrElse(0.0),
      "streaming.state_bytes" -> states.lastOption
        .map(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum).getOrElse(0.0))
    spans ++ counts ++ streaming ++ wl.layerExtras(m, c)
  }
}
