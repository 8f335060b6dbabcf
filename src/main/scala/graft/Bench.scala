package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    warm(spark, sfDir)
    // min of three runs per query: machine noise on a shared host was
    // measured at up to 2× on identical code (whole runs uniformly
    // inflated); the minimum is the steady-state cost of the plan.
    // The canary is timed uncaught: a bench whose reference query
    // fails has no drift gate and stops. A failing key goes to `errors`
    // instead (minTime), and the bench exits non-zero after the artifact.
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      consume(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    // Drift canary: the same fixed reference query (knn_cosine — pure
    // corpus-scan compute, no scratch IO) timed at the start of the
    // run and then every CanaryEvery queries. On a quiet host the
    // points agree; a drifting ratio means the host got noisy INSIDE
    // this run and the numbers around the slow canary are suspect —
    // BENCH_r07's 5.7× doc_chunking regression on untouched code was
    // exactly this, detectable only across rounds. canary_drift =
    // max/min over the warm points.
    //
    // Why every-K and not start/mid/end: a 3-point canary was tried
    // first and MISSED a measured ~40% whole-run inflation (a
    // concurrent compile on the same host) — the contention bursts
    // fell between the three points and min-of-n swallowed the rest.
    // Sampling every 15 queries bounds the undetectable window to one
    // stretch of ~15 queries at ~0.4 s of canary cost per point.
    val canaryFn = SparkEntry.queries("knn_cosine")
    val CanaryEvery = 15
    /** Drift above this invalidates a pass: BENCH_r07/r08 both shipped
      * artifacts whose own canary read 1.7×/8.8× and whose per-query
      * numbers were then unusable as a regression signal. */
    val DriftLimit = 2.0
    // Certification runs on a deliberately-contended host set this to 1
    // (the artifact then reports its own drift honestly instead of
    // burning three passes chasing a quiet window that won't come).
    val MaxPasses = sys.env.getOrElse("SPARK_GRAFT_MAX_PASSES", "3").toInt
    // min-of-n per point (same steady-state philosophy as the
    // per-query min-of-3): the canary must measure the HOST, not the
    // JIT ramp. The start point of the FIRST pass sits before any real
    // query has warmed the session, so it gets extra samples (measured:
    // 1 warm + 2 samples still read ~3× the steady state; 1 warm + 4
    // reaches it); later points/passes are warm and take 2. Drift is
    // judged on the fully-warm points (every-K + end) — the pass-1
    // start point is context, not signal.
    def canaryPoint(n: Int): Double = Seq.fill(n)(time(canaryFn)).min
    // Quiet-host PREcheck: burn ~15 s of canaries BEFORE pricing the
    // full registry, and abort with NO artifact if the host is already
    // noisy — r14's close-out spent three ~200 s passes (drifts
    // 9.7/3.6/2.1) discovering what 16 canary points would have said up
    // front. Certification runs on deliberately-contended hosts set
    // SPARK_GRAFT_MAX_PASSES=1, which also skips the precheck (those
    // artifacts report their own drift honestly instead of aborting).
    if (MaxPasses > 1) {
      time(canaryFn) // discard: codegen + JIT ramp
      canaryPoint(4)
      // The precheck's back-to-back min-of-2 points are NOISIER than the
      // fully-warm every-K points the real gate judges (no real-query
      // work between them to absorb scheduler churn), so the precheck
      // threshold sits 25% looser than DriftLimit — it exists to catch
      // hopeless hosts cheaply, not to pre-adjudicate marginal ones
      // (r15's own close-out aborted at 2.60 — correctly — but a 2.1
      // precheck would likely have converged under the pass gate).
      val PrecheckLimit = DriftLimit * 1.25
      // Bounded retry protocol (r15 task 5): a transiently-contended
      // host should still yield a quiet artifact — up to 3 prechecks
      // spaced 5 minutes apart, abort for good only after the third.
      val PrecheckTries = 3
      val RetryWaitSec = 300
      var attempt = 1
      var ok = false
      while (!ok) {
        val pre = Vector.fill(16)(canaryPoint(2))
        val preDrift = pre.max / math.max(pre.min, 1e-9)
        if (preDrift <= PrecheckLimit) ok = true
        else if (attempt >= PrecheckTries) {
          System.err.println(f"[bench] host precheck drift $preDrift%.2f > $PrecheckLimit%.2f " +
            s"over 16 canary points on attempt $attempt/$PrecheckTries — " +
            "noisy host, aborting without an artifact")
          spark.stop()
          sys.exit(1)
        } else {
          System.err.println(f"[bench] host precheck drift $preDrift%.2f > $PrecheckLimit%.2f " +
            s"on attempt $attempt/$PrecheckTries — waiting ${RetryWaitSec}s " +
            "for the host to quiet down")
          Thread.sleep(RetryWaitSec * 1000L)
          attempt += 1
        }
      }
    }
    val qseq = SparkEntry.queries.toSeq
    def measurePass(first: Boolean): (Map[String, Double], Vector[Double], Double) = {
      val canary = scala.collection.mutable.ArrayBuffer.empty[Double]
      if (first) { time(canaryFn); canary += canaryPoint(4) } // discard codegen run
      else canary += canaryPoint(2)
      val runs = qseq.zipWithIndex.flatMap { case ((name, fn), i) =>
        if (i > 0 && i % CanaryEvery == 0) canary += canaryPoint(2)
        minTime(name, 3, errors)(consume(fn(spark, sfDir))).map(name -> _)
      }.toMap
      canary += canaryPoint(2)
      val warm = if (first) canary.drop(1) else canary
      (runs, canary.toVector, warm.max / math.max(warm.min, 1e-9))
    }
    // A noisy pass is RE-RUN, not shipped: the canary exists to catch
    // in-run host contention, and acting on it means measuring again.
    // Per-query results min-merge across passes (noise only inflates,
    // so the min is the steady-state cost); the artifact's canary/
    // drift fields describe the CLEANEST pass, and every pass's drift
    // is recorded. If no pass comes in under the limit the artifact
    // says noisy:true — explicitly unusable for cross-round deltas.
    var results = Map.empty[String, Double]
    val passDrifts = scala.collection.mutable.ArrayBuffer.empty[Double]
    var bestCanary: Vector[Double] = Vector.empty
    var bestDrift = Double.MaxValue
    var pass = 0
    var done = false
    // Measurement fix (r17): ALWAYS min-merge at least two measured
    // passes (env: SPARK_GRAFT_MIN_PASSES; a MaxPasses=1 certification
    // run still takes one). The pass count used to depend on drift
    // luck — one clean pass stopped the loop — and the streaming keys
    // only reach their plan's steady state on second-pass runs (their
    // state-store/sink machinery keeps warming past each key's own 3
    // back-to-back runs: stream_profile measured 6.2/3.5/3.8 on its
    // first triple and floors at 2.9 from run ~7). r16's artifact
    // min-merged two passes only because its first pass happened to be
    // noisy; pinning the floor at two makes artifacts comparable
    // across rounds regardless of host weather. Methodology otherwise
    // unchanged: same min-of-3 per query, same canary gate, same JSON.
    val MinPasses = math.min(MaxPasses, minPasses(sys.env.get("SPARK_GRAFT_MIN_PASSES")))
    while (pass < MaxPasses && !done) {
      val (runs, czn, drift) = measurePass(first = pass == 0)
      results =
        if (pass == 0) runs
        else (results.keySet ++ runs.keySet).map(k =>
          k -> (results.get(k) ++ runs.get(k)).min).toMap -- errors.keys
      passDrifts += drift
      if (drift < bestDrift) { bestDrift = drift; bestCanary = czn }
      if (drift <= DriftLimit && pass + 1 >= MinPasses) done = true
      else if (drift > DriftLimit) System.err.println(
        f"[bench] canary drift $drift%.2f > $DriftLimit on pass ${pass + 1} — re-running")
      pass += 1
    }
    val canaryDrift = bestDrift
    val noisy = canaryDrift > DriftLimit
    // Locale.ROOT: f"" interpolators use the JVM default locale, which on a
    // comma-decimal host would emit invalid JSON.
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def r2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Latency distribution over the steady-state per-query times
    // (the analogue of the reference's benchmark_search percentiles,
    // metrics.py:221-253) + aggregate QPS.
    val sorted = results.values.toArray.sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0))
    val qps = if (total > 0) results.size / total else 0.0
    val canaryJson = bestCanary.map(r3).mkString("[", ",", "]")
    val passDriftJson = passDrifts.map(r3).mkString("[", ",", "]")
    val errorsJson = errors.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    def header(nOmitted: Int): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","p50":${r3(pct(0.5))},"p95":${r3(pct(0.95))},"qps":${r3(qps)},"n_queries":${results.size},"queries_omitted":$nOmitted,"canary_sec":$canaryJson,"canary_drift":${r3(canaryDrift)},"pass_drifts":$passDriftJson,"noisy":$noisy,"errors":$errorsJson,"sf":"$sfDir","queries":"""
    // Full-fidelity artifact: every per-query time at ms precision.
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val fullJson = header(0) + fullQs + "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), fullJson + "\n")
    // Append-only history: the driver's BENCH_r{N}.json keeps only the
    // above-cutoff stdout tail, so cross-round per-query diffs (the
    // regression signal) need the COMPLETE table somewhere durable —
    // one full-fidelity line per bench run, stamped.
    val stamped = s"""{"at":"${java.time.Instant.now()}",""" + fullJson.drop(1)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
      (stamped + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    // The stdout copy must survive the driver's bounded stdout-tail window
    // (~2000 chars, shared with sbt's trailing "[success]" line): emit the
    // totals plus as many per-query entries as fit a hard character budget,
    // slowest first (the entries a reader cares about). BENCH.json carries
    // the complete map.
    val budget = 1750
    val descending = results.toSeq.sortBy(-_._2)
    val picked = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = header(results.size).length + 2 // "{" + "}" of the queries map
    var omitted = 0
    descending.foreach { case (k, v) =>
      val entry = "\"" + k + "\":" + r2(v)
      if (used + entry.length + 1 <= budget) { picked += entry; used += entry.length + 1 }
      else omitted += 1
    }
    val stdoutJson = header(omitted) + picked.mkString("{", ",", "}") + "}"
    println(stdoutJson)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} key(s) failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The one session every graft main but CommitProbe runs on:
    * local[SPARK_GRAFT_CPUS] (default 4) with as many shuffle
    * partitions, UTC, no UI. Inside a JVM that already has a session
    * (a test JVM) `getOrCreate` returns that one. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // the serve keys raise the IN-pushdown threshold mid-pass
      // (ServeE2e.tunePointRead); fixing it at the serve floor for the
      // WHOLE pass keeps every ≤1000-value IN plan identical whether it
      // runs before or after a serve key — order-independent timings
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `df` to completion through an action that consumes every
    * column of every row: the noop sink. A count() would let Catalyst
    * prune the columns a key computes (graph_pagerank counted in 0.33 s
    * but collected in 2.1 s), timing less than the key's answer costs.
    * Every timing site — the bench, `Run time`, `Run profile` — runs a
    * key through here. */
  def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Warm the session (codegen infra, parquet readers, shuffle paths)
    * so the first measured query doesn't absorb ~4s of JVM startup. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
  }

  /** The minimum over `runs` timed runs of `run`, in seconds, or None
    * when a run throws: the failure is recorded under `name` in
    * `errors` (the first one only) and printed, never timed — the time
    * until an exception is not the key's time. */
  private[graft] def minTime(name: String, runs: Int,
      errors: scala.collection.mutable.Map[String, Throwable])(run: => Any): Option[Double] =
    timeRuns(name, runs, errors)(run).map(_.min)

  /** minTime's runs, each in seconds, in run order. */
  private[graft] def timeRuns(name: String, runs: Int,
      errors: scala.collection.mutable.Map[String, Throwable])(run: => Any): Option[Seq[Double]] =
    try Some(Seq.fill(runs) {
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    })
    catch { case scala.util.control.NonFatal(e) =>
      if (!errors.contains(name)) {
        System.err.println(s"[bench] $name failed: $e")
        errors(name) = e
      }
      None
    }

  /** The measured-pass floor from SPARK_GRAFT_MIN_PASSES: an integer
    * ≥ 1, default 2. Anything else (0 would silently disable the
    * two-pass floor) is rejected with a warning and falls back to 2. */
  private[graft] def minPasses(env: Option[String]): Int = env match {
    case None => 2
    case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse {
      System.err.println(
        s"[bench] SPARK_GRAFT_MIN_PASSES=$v is not an integer >= 1 — using 2")
      2
    }
  }
}
