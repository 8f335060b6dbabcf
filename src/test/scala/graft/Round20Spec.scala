package graft

import graft.operators.{Bm25, Mmr, ServeE2e}
import graft.streaming.StreamingQueries

/** Round-16 session additions: the streaming serve composition. */
class Round20Spec extends SparkTestBase {

  test("stream_serve_e2e == batch serve_e2e row-for-row (same layouts, same centroids, same fusion and MMR arithmetic)") {
    val batch = ServeE2e.serveE2e(spark, sfDir).collect().toSeq
    val stream = StreamingQueries.queries("stream_serve_e2e")(spark, sfDir)
      .collect().toSeq
    assert(stream.length == Bm25.NQueriesB * Mmr.SelectK,
      s"streamed serve emitted ${stream.length} rows")
    assert(stream == batch,
      s"streaming serve diverged from batch:\n  batch ${batch.take(3)}\n  stream ${stream.take(3)}")
    // the dense rerank's float fetch stays inside the PROBED coded
    // partitions (the batch plan's shape) — without the centroid
    // partition filter it reads the embedding column of ALL nlist
    // partitions per request batch, a corpus-wide IO scan
    import spark.implicits._
    val (idx, probes, qvDf, _) = ServeE2e.warmAndRoute(spark, sfDir)
    val cands = Seq((0L, 0L), (1L, 1L)).toDF("qid", "vec_id")
    val rerank = StreamingQueries.denseRerank(idx.coded, cands, qvDf,
      probes.map(_._2).distinct.sorted)
    val plan = rerank.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid"),
      "streaming rerank fetch is not partition-pruned:\n" +
        plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"),
      "SortMergeJoin in the streaming rerank — the candidate list must broadcast")
  }
}
