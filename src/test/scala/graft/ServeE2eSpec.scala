package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Bm25, Mmr, ServeE2e}

/** serve_e2e / serve_e2e_online — the composed serving stack. The
  * properties the per-operator gate cannot show: each request stage's
  * dataflow over the at-rest indexes composes lazily (zero jobs after
  * serve start-up + routing / after the fused list materializes), the
  * retrieval plan is the serving plan (no base-table scan, pruned
  * code-only dense candidates, no SortMergeJoin), and the stage-2 MMR
  * fetch is a bounded POINT-READ of the id-sorted embedding layout
  * (exact-IN pushdown, row-group pruning by IO), never a corpus scan. */
class ServeE2eSpec extends SparkTestBase {

  test("after serve start-up and probe routing, building the stage-1 retrieval plan launches zero Spark jobs") {
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = ServeE2e.fusedList(spark, idx, probes, qv)
      df.queryExecution.optimizedPlan
      org.apache.spark.sql.graftshim.Shims
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
      assert(jobs.get() == 0,
        s"${jobs.get()} Spark job(s) launched while BUILDING the retrieval plan — a driver barrier between stages")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("given the materialized fused list, building the stage-2 MMR point-read plan launches zero Spark jobs") {
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val fusedRows = ServeE2e.fusedList(spark, idx, probes, qv).collect()
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = ServeE2e.mmrOverFetched(spark, idx.embById, fusedRows)
      df.queryExecution.optimizedPlan
      org.apache.spark.sql.graftshim.Shims
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
      assert(jobs.get() == 0,
        s"${jobs.get()} Spark job(s) launched while BUILDING the MMR plan from the request's fused rows")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("one online request runs in at most 7 Spark jobs; its stage-1 plan has no range exchange and one embedding scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val terms = ServeE2e.onlineTermsFor(idx)
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val stage1 = ServeE2e.fusedListOnline(spark, idx, probes, qv, terms)
    spark.sparkContext.addSparkListener(l)
    try {
      val fused = stage1.collect()
      ServeE2e.mmrOverFetched(spark, idx.embById, fused).collect()
      org.apache.spark.sql.graftshim.Shims
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(l)
    // the request's rank lists are |q|·N-bounded past the per-qid top-N
    // cuts: fusion, the MMR grouping and both final sorts are exchange-free;
    // its probes, query vectors, terms and fused rows are plan literals,
    // and the BM25 index state rides in the postings rows
    assert(jobs.get() <= 7, s"${jobs.get()} Spark jobs for one request (budget 7)")
    var rangeExchanges = 0
    var embeddingScans = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: ShuffleExchangeExec =>
        if (e.outputPartitioning.isInstanceOf[RangePartitioning]) rangeExchanges += 1
        walk(e.child)
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains("graft_serve_ivf")) &&
            f.requiredSchema.fieldNames.contains("embedding")) embeddingScans += 1
      case other => other.children.foreach(walk)
    }
    walk(stage1.queryExecution.executedPlan)
    val plan = stage1.queryExecution.executedPlan.toString
    assert(rangeExchanges == 0, s"range exchange in the stage-1 plan:\n$plan")
    // the asym top-R cut is evaluated once: a single float rerank read
    assert(embeddingScans == 1,
      s"$embeddingScans scans of the coded layout's embedding column:\n$plan")
  }

  test("stage 1 reads no BM25 index-state table: no scan of the df, dl or tot layout tables") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val stage1 = ServeE2e.fusedListOnline(spark, idx, probes, qv, ServeE2e.onlineTermsFor(idx))
    stage1.collect()
    val roots = Seq.newBuilder[String]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case f: FileSourceScanExec => roots ++= f.relation.location.rootPaths.map(_.toString)
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    walk(stage1.queryExecution.executedPlan)
    val scanned = roots.result()
    assert(scanned.exists(_.endsWith("/tf")), s"no postings scan found: $scanned")
    val state = scanned.filter(r => Seq("/df", "/dl", "/tot").exists(r.endsWith))
    assert(state.isEmpty, s"a request reads BM25 index state it could hold: $state\n" +
      stage1.queryExecution.executedPlan)
  }

  test("a second online request with different terms compiles no new codegen class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    // two requests of one query each: different probes, query vector
    // and term sets; the corpus totals are the same two literals
    val terms = ServeE2e.onlineTermsFor(idx).groupBy(_._1)
    val qvRows = qv.collect()
    def request(q: Long) = ServeE2e.fusedListOnline(spark, idx, probes.filter(_._1 == q),
      spark.createDataFrame(java.util.Arrays.asList(qvRows.filter(_.getLong(0) == q): _*),
        qv.schema),
      terms(q)).collect()
    val first = request(0L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = request(1L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the second request's stage 1 compiled new code: a request constant is inlined into it")
    assert(first.nonEmpty && second.nonEmpty && terms(0L) != terms(1L))
  }

  test("no request stage broadcasts a driver-local relation: no BroadcastExchange over a LocalTableScan") {
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val stage1 = ServeE2e.fusedListOnline(spark, idx, probes, qv, ServeE2e.onlineTermsFor(idx))
    val stage2 = ServeE2e.mmrOverFetched(spark, idx.embById, stage1.collect())
    Seq("stage 1" -> stage1, "stage 2" -> stage2).foreach { case (name, df) =>
      val overLocal = JoinLocalSpec.broadcasts(df).filter(_._2)
      assert(overLocal.isEmpty,
        s"$name broadcasts a local relation:\n${df.queryExecution.executedPlan}")
    }
  }

  test("a stage-2 fetch of different ids compiles no new codegen class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    // one query's fused rows at a time: ≤ 10 ids, the size an In filter
    // would inline into the generated code
    val perQuery = ServeE2e.fusedList(spark, idx, probes, qv).collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1).map(_._2)
    ServeE2e.mmrOverFetched(spark, idx.embById, perQuery(0)).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ServeE2e.mmrOverFetched(spark, idx.embById, perQuery(1)).collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the second request's stage 2 compiled new code: a request constant is inlined into it")
  }

  test("retrieval plan census: no documents scan, pruned code-only dense candidates, zero SortMergeJoin") {
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val df = ServeE2e.fusedList(spark, idx, probes, qv)
    val plan = df.queryExecution.executedPlan.toString
    // sparse side serves the postings layout — the corpus text is
    // never re-tokenized per request
    assert(!plan.contains("documents.parquet"),
      "retrieval plan scans the documents base table")
    // dense candidates: explicit partition pruning on the coded layout
    assert(plan.contains("PartitionFilters") && plan.contains("centroid"),
      plan.take(800))
    // ... and at least one scan of the coded layout reads codes WITHOUT
    // the float embedding column (the 64x-narrower candidate read)
    val codedScans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("graft_serve_ivf"))
      .toSeq
    assert(codedScans.nonEmpty, "no coded-layout scan found in the retrieval plan")
    assert(codedScans.exists(l => l.contains("code") && !l.contains("embedding")),
      codedScans.mkString("\n"))
    // every join is broadcast (query-, vocabulary-, or topK-sized build
    // sides) and the union+aggregate fusion replaced the full-outer SMJ
    assert(!plan.contains("SortMergeJoin"),
      "SortMergeJoin in the retrieval plan — a shuffle a request should never pay")
  }

  test("MMR stage-2 plan census: bounded In(vec_id) point-read of the id-keyed layout, no corpus table, no SortMergeJoin") {
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val fusedRows = ServeE2e.fusedList(spark, idx, probes, qv).collect()
    assert(fusedRows.length <= Bm25.NQueriesB * Bm25.K,
      s"fused list not request-bounded: ${fusedRows.length} rows")
    val df = ServeE2e.mmrOverFetched(spark, idx.embById, fusedRows)
    val plan = df.queryExecution.executedPlan.toString
    // the fetch reads the serve-owned id-sorted layout, NOT the base table
    assert(plan.contains("graft_serve_emb_by_id"),
      "stage-2 fetch does not read the id-keyed point-read layout")
    assert(!plan.contains("embeddings.parquet"),
      "stage-2 fetch scans the embeddings base table — the corpus-IO scan the layout exists to remove")
    // exact-set pushdown reaches the parquet reader (row-group stats
    // prune before IO; the range-collapse form would prune nothing)
    assert(plan.contains("PushedFilters") && plan.contains("In(vec_id"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"),
      "SortMergeJoin in the MMR stage — the fused list must broadcast")
  }

  test("online serve: the request's term set pushes into the postings scan, and output == serve_e2e row-for-row") {
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val terms = ServeE2e.onlineTermsFor(idx)
    val online = ServeE2e.fusedListOnline(spark, idx, probes, qv, terms)
    val plan = online.queryExecution.executedPlan.toString
    // the word-IN filter reaches the word-sorted postings files
    assert(plan.contains("In(word"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(!plan.contains("documents.parquet"),
      "online retrieval plan scans the documents base table")
    // the two serve shapes are the same arithmetic: bit-equal end to end
    val a = ServeE2e.serveE2e(spark, sfDir).collect().toSeq
    val b = ServeE2e.serveE2eOnline(spark, sfDir).collect().toSeq
    assert(a == b, s"online serve diverged: ${a.take(3)} vs ${b.take(3)}")
  }

  test("served list: 10 diversity-reranked hits per query, drawn from the fused pool, rank-1 = top fused hit") {
    val out = ServeE2e.serveE2e(spark, sfDir).collect()
    val nq = Bm25.NQueriesB
    assert(out.length == nq * Mmr.SelectK,
      s"expected ${nq * Mmr.SelectK} rows, got ${out.length}")
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to Mmr.SelectK),
        s"qid $qid: ranks not 1..${Mmr.SelectK}")
      val ids = rows.map(_.getLong(1))
      assert(ids.distinct.length == ids.length, s"qid $qid: duplicate ids")
    }
    // the greedy's first pick is the fused pool's top row (reranker.py:87
    // semantics carried through mmr_combined)
    val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val top1 = ServeE2e.fusedList(spark, idx, probes, qv)
      .filter(col("rank") === 1)
      .select("qid", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.filter(_.getInt(2) == 1).foreach { r =>
      assert(top1(r.getLong(0)) == r.getLong(1),
        s"qid ${r.getLong(0)}: MMR rank-1 ${r.getLong(1)} != fused top-1 ${top1(r.getLong(0))}")
    }
  }

  test("point-read IO pin: a bounded id fetch reads a small fraction of the layout's bytes (row-group pruning)") {
    ServeE2e.tunePointRead(spark)
    import spark.implicits._
    graft.Mat.withScratchDirs("serve_emb_by_id_io") { case Seq(dst) =>
      // 200k rows, dim 16, 64 KiB row groups → hundreds of row groups,
      // each with a tight vec_id min/max under the sorted write
      val emb = spark.range(200000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)),
          j => (col("id") * lit(17) + j).cast("double") / lit(1000.0)).as("embedding"))
      ServeE2e.writeEmbByIdLayout(emb, dst, rowGroupBytes = 64 * 1024)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val total = fs.listStatus(new org.apache.hadoop.fs.Path(dst))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      // 2 requests × 10 candidates, ids scattered across the id range
      val fused = (0 until 20).map { i =>
        Row((i / 10).toLong, (i * 9973L) % 200000L, 1.0 / (1 + i % 10), i % 10 + 1)
      }.toArray
      val layout = spark.read.parquet(dst)
      val (got, bytes) = graft.Mat.withBytesRead(spark.sparkContext) {
        ServeE2e.mmrOverFetched(spark, layout, fused).collect()
      }
      assert(got.length == 2 * Mmr.SelectK)
      assert(bytes > 0, "no input bytes recorded for the fetch stage")
      assert(bytes < total / 4,
        s"point-read fetch read $bytes of $total layout bytes — " +
          "row-group pruning is not biting (exact-IN pushdown lost?)")
    }
  }

  test("an oversized request raises the IN-pushdown threshold to fit — exact-set pushdown never silently degrades to a range filter") {
    // the fixed threshold=1000 start-up tuning covered the graded
    // request shape (≤ |q|·2K ids); a bigger batch / deeper K must
    // widen the threshold, not fall back to [min,max] range pruning
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val (idx, _, _, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val fused = (0 until 1200).map { i =>
      Row(0L, i.toLong, 1.0 / (1 + i), i + 1)
    }.toArray
    val df = ServeE2e.mmrOverFetched(spark, idx.embById, fused)
    assert(spark.conf.get(key).toInt >= 1201,
      s"threshold not raised to fit the 1200-id request: ${spark.conf.get(key)}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("In(vec_id"),
      "1200-id fetch lost exact-set pushdown:\n" +
        plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    // monotonic: a later small request never narrows a wider session
    val before = spark.conf.get(key).toInt
    ServeE2e.tunePointRead(spark, 10)
    assert(spark.conf.get(key).toInt == before,
      "a small request lowered the session threshold under a concurrent wide one")
  }
}
