package graft

import org.apache.spark.sql.DataFrame

/** Materialization + temp-dir hygiene for the graded at-rest-layout
  * queries. Those queries write a table to a scratch directory, read
  * it back, and return a result that would otherwise keep the scratch
  * files live for the caller's lazy evaluation — so the directories
  * could never be deleted and accumulated across bench/grade runs
  * (each query runs 3× per bench). `detach` collects the SMALL graded
  * result (top-k per query / few-group aggregate / corpus-at-graded-SF
  * assignment — never 100 TB-shaped; the scale path keeps data
  * distributed) and rebuilds it as a local relation with the identical
  * schema, after which the scratch dir is deleted in a finally block.
  */
object Mat {
  /** Collect a small result and rebuild it as a session-local
    * DataFrame with the same schema, detached from any backing files. */
  def detach(df: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** Most rows joinLocal writes into a plan as a literal. The lookup
    * scans the literal map's keys linearly, so past this size the
    * broadcast hash join is the cheaper plan. */
  private[graft] val JoinLocalMaxRows = 1024

  /** `big.join(broadcast(small), key)`, the inner equi-join on one
    * column, with a driver-local `small` (a request's probes, query
    * vector, terms or fused rows) put into the plan as a literal: each
    * row of `big` looks its key up in a map literal, key → rows of
    * `small`, and explodes the match (`inline(map[key])`). Under AQE
    * the broadcast of a local relation is a Spark job of its own; the
    * literal is none. Output columns, column order, types and row
    * multiset equal the broadcast join's: the key (big's column), then
    * big's other columns, then small's. A null key matches nothing;
    * integral keys of different widths compare as longs.
    *
    * `small` qualifies when its optimized plan is a LocalRelation of at
    * most JoinLocalMaxRows rows, both keys are integral or both are
    * strings, and no other column name of `small` is also in `big`.
    * The rows are read straight off the relation: no collect, so no
    * query runs. Anything else takes the broadcast join. */
  def joinLocal(big: DataFrame, small: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, inline}
    localLookup(big, small, key) match {
      case Some(matches) =>
        big.select((quoted(key) +: big.columns.toSeq.filter(_ != key).map(quoted) :+
          inline(matches)): _*)
      case None => big.join(broadcast(small), key)
    }
  }

  /** joinLocal's lookup: `map[big.key]`, the array of `small`'s rows
    * (as structs of its non-key columns) with that key, over a map
    * literal built from the LocalRelation's rows; None when `small`
    * does not qualify. */
  private def localLookup(big: DataFrame, small: DataFrame, key: String)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.types._
    def keyType(t: DataType): Option[DataType] = t match {
      case ByteType | ShortType | IntegerType | LongType => Some(LongType)
      case st: StringType if st == StringType => Some(StringType)
      case _ => None
    }
    small.queryExecution.optimizedPlan match {
      case rel: LocalRelation if !rel.isStreaming && rel.data.size <= JoinLocalMaxRows =>
        val ki = rel.output.indexWhere(_.name == key)
        val others = rel.output.indices.filter(_ != ki)
        val bigKeyType = big.schema.fields.find(_.name == key).flatMap(f => keyType(f.dataType))
        val qualifies = ki >= 0 && bigKeyType.isDefined &&
          keyType(rel.output(ki).dataType) == bigKeyType &&
          others.forall(i => !big.columns.contains(rel.output(i).name))
        Option.when(qualifies) {
          val t = bigKeyType.get
          val groups = scala.collection.mutable.LinkedHashMap.empty[Any, Vector[GenericInternalRow]]
          rel.data.filterNot(_.isNullAt(ki)).foreach { r =>
            val k = if (t == LongType) r.get(ki, rel.output(ki).dataType).asInstanceOf[Number].longValue
              else r.getUTF8String(ki)
            val v = new GenericInternalRow(others.map(i => r.get(i, rel.output(i).dataType)).toArray)
            groups(k) = groups.getOrElse(k, Vector.empty) :+ v
          }
          val row = StructType(others.map(rel.output).map(a =>
            StructField(a.name, a.dataType, a.nullable, a.metadata)))
          val map = new ArrayBasedMapData(new GenericArrayData(groups.keys.toArray),
            new GenericArrayData(groups.values.map(vs => new GenericArrayData(vs.toArray[Any])).toArray[Any]))
          val literal = Literal(map, MapType(t, ArrayType(row, containsNull = false), valueContainsNull = false))
          org.apache.spark.sql.graftshim.Shims.column(literal)(quoted(key).cast(t))
        }
      case _ => None
    }
  }

  /** `c IN (values)` as an InSet whatever the number of values. The
    * generated code references the set as one object, so requests with
    * different values share one compiled class; an In of up to
    * spark.sql.optimizer.inSetConversionThreshold values is inlined into
    * the code instead, and each new value list compiles a class of its
    * own. Pushes into parquet as In(c, …) like isin. `c` must be
    * LongType. */
  def inSet(c: org.apache.spark.sql.Column, values: Seq[Long]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.Shims
    Shims.column(org.apache.spark.sql.catalyst.expressions.InSet(
      Shims.expression(c), values.toSet[Any]))
  }

  private def quoted(name: String) =
    org.apache.spark.sql.functions.col("`" + name.replace("`", "``") + "`")

  /** Run independent Spark actions concurrently and propagate the first
    * failure. Small fixed pool: enough to overlap job/commit latencies,
    * not enough to contend for executors (guide §2.6). Shared inputs
    * must be materialized (persist + count / checkpoint) BEFORE the
    * concurrent section so the branches read, not race to compute.
    * One branch per withBackground thread, so the failure path is
    * withBackground's: no branch's job is still running when this
    * rethrows. */
  def concurrently(fs: (() => Unit)*): Unit =
    if (fs.nonEmpty) withBackground(fs.size)(bg => fs.foreach(f => bg.submit(f())))

  /** Spark work submitted to a few background threads while the caller
    * goes on (a write whose job+commit tail overlaps the next trigger,
    * or a concurrently branch). The threads are started by
    * withBackground on the calling thread: Spark's job group and tags
    * are inheritable thread-locals, so a thread born inside a
    * foreachBatch would inherit the streaming query's tags and
    * q.stop() would cancel its in-flight writes. Submissions run under
    * one Spark job tag of their own, the handle for cancelling them. */
  final class Background private[Mat] (sc: org.apache.spark.SparkContext, threads: Int) {
    import java.util.concurrent._
    private val tag = s"graft-background-${java.util.UUID.randomUUID}"
    private val pool = new ThreadPoolExecutor(threads, threads,
      0L, TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable]())
    pool.prestartAllCoreThreads()
    private val done = new ExecutorCompletionService[Unit](pool)
    private val submitted = new atomic.AtomicInteger(0)

    def submit(f: => Unit): Unit = {
      submitted.incrementAndGet()
      done.submit(() => { sc.addJobTag(tag); try f finally sc.removeJobTag(tag) })
    }

    /** Wait for every submission; the first to fail (in completion
      * order) is rethrown unwrapped. */
    private[Mat] def awaitAll(): Unit =
      try (0 until submitted.get).foreach(_ => done.take().get())
      catch { case e: ExecutionException => throw e.getCause }

    /** Cancel the submissions' jobs by tag, re-cancelling until every
      * thread has returned: a submission may start its next job after a
      * cancel, and a thread interrupted out of runJob would leave its
      * job running. */
    private[Mat] def cancelAll(): Unit = {
      pool.shutdown()
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(10)
      sc.cancelJobsWithTag(tag)
      while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS) &&
        System.nanoTime() < deadline) sc.cancelJobsWithTag(tag)
      pool.shutdownNow()
    }

    private[Mat] def close(): Unit = {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
  }

  /** Run `body` with a Background of `threads` threads, then await what
    * it submitted. If the body or a submission fails, every
    * submission's jobs are cancelled and its thread has returned
    * before the failure is rethrown — the body's own exception when the
    * body failed — so the caller's cleanup (finally unpersist/delete)
    * never races a job writing into the directories it removes. The
    * threads have exited when this returns. */
  def withBackground[T](threads: Int)(body: Background => T): T = {
    val bg = new Background(org.apache.spark.sql.SparkSession.active.sparkContext, threads)
    try {
      val r = body(bg)
      bg.awaitAll()
      r
    } catch {
      case t: Throwable => bg.cancelAll(); throw t
    } finally bg.close()
  }

  /** Shuffle-partition count for an iterative loop or a streaming
    * replay, derived from its MATERIALIZED working-set row count (a
    * loop) or its fed rows (a replay) instead of the session's
    * corpus-scan constant (guide §2: scale-adaptive partitioning, done
    * by hand because a superstep's per-round exchanges are tiny-task
    * overhead AQE's coalescing floor never shrinks below the session
    * parallelism, and a streaming plan cannot use AQE at all — its
    * state partition count is pinned at query start, and every state
    * partition is a store whose per-trigger commit is paid even when it
    * holds three rows). ceil(rows / rowsPerPartition) capped at the
    * session parallelism: a corpus-scale input saturates the cap, a
    * small component/kNN graph or request stream stops paying 32
    * state-of-nothing tasks per round. Deployment knob:
    * spark.graft.loop.rowsPerPartition (default 8192 rows per shuffle
    * partition — the streaming replay's measured sweet spot for
    * row-shaped state). */
  def loopPartitions(spark: org.apache.spark.sql.SparkSession, nRows: Long): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    val target = spark.conf.getOption("spark.graft.loop.rowsPerPartition")
      .map(_.toLong).filter(_ > 0).getOrElse(8192L)
    math.max(1L, math.min(cap.toLong, (nRows + target - 1) / target)).toInt
  }

  private val outerKey = "spark.graft.loop.outerPartitions"

  /** Run an iterative loop body or a streaming replay (graft.streaming
    * .Replay) with `spark.sql.shuffle.partitions` sized by
    * loopPartitions, restoring the session value after. The body must
    * MATERIALIZE its result before returning (eager localCheckpoint /
    * per-round actions; a replay's queries capture the count at start
    * and are stopped inside): a plan left lazy executes under the
    * caller's restored conf and gains nothing. The pre-override value
    * is stashed under one key for the scope's duration, so sessionWidth
    * (and through it fanout) still reports the session's full width.
    * Nested calls on the owning thread are a pass-through — the outer
    * scope's sizing (from the larger, enclosing working set) stays in
    * force; sequential calls are the supported composition. The conf is
    * session-global, so entry from ANOTHER thread while a scope is
    * open fails fast: it would otherwise run silently under the first
    * thread's partition count and have that count reset under it by
    * the first thread's exit. Mat.concurrently callers must size
    * partitions before the concurrent section. */
  private val loopOwners =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession, Thread]()
  def withLoopPartitions[T](spark: org.apache.spark.sql.SparkSession, nRows: Long)
                           (body: => T): T = {
    val me = Thread.currentThread()
    val owner = loopOwners.putIfAbsent(spark, me)
    if (owner eq me) return body
    require(owner == null,
      s"withLoopPartitions entered on thread ${me.getName} while thread " +
        s"${owner.getName} holds this session's loop partitioning " +
        "(concurrent loops must size partitions before the concurrent section)")
    val key = "spark.sql.shuffle.partitions"
    try {
      val old = spark.conf.get(key)
      spark.conf.set(outerKey, old)
      spark.conf.set(key, loopPartitions(spark, nRows).toString)
      try body finally { spark.conf.set(key, old); spark.conf.unset(outerKey) }
    } finally loopOwners.remove(spark, me)
  }

  /** The session's shuffle parallelism as configured, seen through any
    * open withLoopPartitions scope: the stashed pre-override value
    * inside one, the current conf outside. For work whose cost is
    * per-row or per-group compute, not per-partition state. */
  def sessionWidth(s: org.apache.spark.sql.SparkSession): Int =
    s.conf.getOption(outerKey).map(_.toInt).filter(_ > 0)
      .getOrElse(s.sessionState.conf.numShufflePartitions)

  private val fanoutCtr = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Fan a compute-dense input out to the session's full parallelism
    * BEFORE its heavy projection. Small or unsplittable inputs (a
    * single-row-group parquet shard, a MemoryStream batch, an
    * AQE-coalesced exchange) arrive as one-to-few partitions, so a
    * following per-row-heavy map (md5 shingling, 32-lane minhash
    * signatures, media decode) runs on one core no matter how many the
    * session has — guide §2.5's unsplittable-input skew, fixed by its
    * prescription: repartition immediately after the read. The exchange
    * moves the raw rows once; callers apply it only where per-row
    * compute dominates that exchange cost (it is NOT a blanket
    * post-scan step — a plain columnar scan must stay exchange-free).
    * The width is sessionWidth: inside a loop or a streaming replay the
    * shuffle-partition conf is the input-derived STATE partition count
    * (sized for state-store commit cost, not for map compute). */
  def fanout(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    // CollapseProject pushes a deterministic Project THROUGH a bare
    // Repartition (to shuffle fewer bytes) — which would move the heavy
    // map back below the exchange onto the single input partition,
    // undoing the fan-out. An `observe` (CollectMetrics) node between
    // the exchange and the projection is a fence no project-pushdown
    // rule crosses; its count aggregate is a few ns per row.
    df.repartition(sessionWidth(s))
      .observe(s"graft_fanout_${fanoutCtr.incrementAndGet()}",
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
  }

  def deleteRecursively(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      // Files.walk holds open directory handles until closed; this runs
      // per scratch-dir query (3x each per bench), so an unclosed stream
      // would leak FDs for the life of the JVM.
      val st = java.nio.file.Files.walk(root)
      try {
        st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      } finally st.close()
    }
  }

  /** Fresh scratch dirs for the duration of `body`; the body must
    * return a DETACHED (already-materialized) result. Dirs are removed
    * even on failure. */
  def withScratchDirs[T](prefixes: String*)(body: Seq[String] => T): T = {
    val dirs = prefixes.map(p =>
      java.nio.file.Files.createTempDirectory(s"graft_$p").toString)
    try body(dirs) finally dirs.foreach(deleteRecursively)
  }

  /** Run `body` with a task-level input-bytes accumulator attached and
    * return (result, bytesRead) — the IO-not-wall measurement the scale
    * probes and the point-read IO pins share. Drains the listener bus
    * before detaching so late task-end events are never under-counted. */
  def withBytesRead[T](sc: org.apache.spark.SparkContext)(body: => T): (T, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(sc, 10000L)
      (r, bytes.get())
    } finally sc.removeSparkListener(l)
  }

  /** JVM-lifetime scratch dir for a build-once SERVE layout, through
    * the Hadoop FileSystem API only (the serve paths must stay
    * deployable against any Hadoop FS — no java.io/java.nio path ops):
    * created under `hadoop.tmp.dir`, removed at JVM exit by a
    * shutdown hook registered with Hadoop's own ShutdownHookManager at
    * a priority ABOVE the FileSystem cache-close hook — fs.deleteOnExit
    * alone is only processed when the CACHED client closes, so a
    * deployment that disables the FS cache (fs.<scheme>.impl.disable
    * .cache=true) would silently leak every corpus-sized layout. */
  def hadoopScratchDir(s: org.apache.spark.sql.SparkSession, prefix: String): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(
      conf.get("hadoop.tmp.dir", "/tmp"),
      s"graft_$prefix-${java.util.UUID.randomUUID()}")
    val fs = base.getFileSystem(conf)
    fs.mkdirs(base)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit =
          try fs.delete(base, true)
          catch { case _: java.io.IOException => () } // FS gone: nothing to leak
      },
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 10)
    base.toString
  }
}
