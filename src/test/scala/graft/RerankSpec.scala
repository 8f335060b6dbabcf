package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.{Knn, VectorSearch}

/** The one exact rerank every ANN candidate tier ends in: over the
  * whole corpus as candidates it is the exact top-k, bit for bit; it
  * passes payload columns through, drops the vectors, and joins a
  * driver-local query-vector frame as a plan literal. rerankOnto, the
  * join-back onto a vector scan, returns the same rows. */
class RerankSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
  private lazy val qids: Seq[Long] =
    queries.select(col("vec_id")).as[Long].collect().toSeq.sorted

  /** Every corpus row, once per query, with a payload column. */
  private def allCandidates: DataFrame =
    emb.select(col("vec_id"), col("embedding"), explode(typedLit(qids)).as("qid"))
      .withColumn("tag", col("vec_id") * 3 + col("qid"))

  /** The query vectors as a local relation (qid, qv). */
  private def localQv: DataFrame =
    queries.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.toDF("qid", "qv")

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Int)] =
    df.select(col("qid"), col("vec_id"), col("score"), col("rank")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
      .sortBy(t => (t._1, t._4))

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("over the whole corpus, rerank == Knn.topK bit-exact on (qid, vec_id, score, rank)") {
    val exact = rows(Knn.topK(emb, queries, VectorSearch.K))
    assert(exact.size == qids.size * VectorSearch.K)
    assert(rows(Knn.rerank(allCandidates, localQv, VectorSearch.K)) == exact)
    // a query-vector table that is not local takes the broadcast join
    val tableQv = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    assert(rows(Knn.rerank(allCandidates, tableQv, VectorSearch.K)) == exact)
  }

  test("rerankOnto joins candidates back onto the vectors, broadcast or planner-chosen alike") {
    val cands = allCandidates.drop("embedding")
    val direct = Knn.rerank(allCandidates, localQv, VectorSearch.K)
    Seq(true, false).foreach { b =>
      val out = Knn.rerankOnto(emb, cands, localQv, VectorSearch.K, broadcastCands = b)
      assert(out.columns.toSeq == direct.columns.toSeq)
      assert(rows(out) == rows(direct), s"broadcastCands = $b")
    }
  }

  test("payload columns pass through; embedding and qv are dropped; rank is an int") {
    val out = Knn.rerank(allCandidates, localQv, VectorSearch.K)
    assert(out.columns.toSeq == Seq("qid", "vec_id", "tag", "score", "rank"))
    assert(out.schema("rank").dataType == org.apache.spark.sql.types.IntegerType)
    val tags = out.select(col("qid"), col("vec_id"), col("tag")).as[(Long, Long, Long)].collect()
    assert(tags.nonEmpty)
    tags.foreach { case (q, v, t) => assert(t == v * 3 + q, s"payload of ($q, $v) changed") }
  }

  test("a local qv joins as a plan literal: no BroadcastExchange in the plan") {
    val out = Knn.rerank(allCandidates, localQv, VectorSearch.K)
    assert(out.collect().nonEmpty)
    val broadcasts = nodes(out.queryExecution.executedPlan).collect {
      case b: BroadcastExchangeExec => b
    }
    assert(broadcasts.isEmpty, s"broadcast over a local qv:\n${out.queryExecution.executedPlan}")
  }
}
