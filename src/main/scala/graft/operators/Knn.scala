package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact brute-force k-NN — the Spark re-expression of the reference's
  * `VectorIndex.search` / `search_batch` (vector_index.py:107-210) for
  * all three hnswlib spaces (cosine / l2 / ip).
  *
  * Scale design (100 TB posture): the query set is small and broadcast;
  * the corpus scan is embarrassingly parallel. Each corpus partition
  * keeps one bounded heap per query (q·k entries), so the only shuffle
  * is the per-partition partial top-k (numPartitions·q·k rows) — the
  * q×n scored-pair set is never materialized or shuffled. Metadata
  * filters are pushed into the scan BEFORE scoring (the reference
  * post-filters a k·10 overfetch instead, vector_index.py:129).
  *
  * Scores (reference vector_index.py:137-144):
  *   cosine → dot/(‖a‖‖b‖)   (similarity = 1 − cosine distance)
  *   l2     → 1/(1 + d²)      (hnswlib l2 space returns squared dist)
  *   ip     → dot             (NOTE: the reference reports hnswlib's raw
  *            ip "distance" 1 − dot as the similarity; ranking by dot
  *            descending is equivalent, but the VALUES differ — do not
  *            expect value-level parity with the reference for ip)
  * Ranking is by score descending, id ascending (deterministic ties).
  */
object Knn {
  sealed trait Metric
  case object Cosine extends Metric
  case object L2 extends Metric
  case object Ip extends Metric

  /** Max query-set size broadcast per corpus pass; larger query sets
    * run in chunks of this size (bounded executor memory — q·k heap
    * entries per task — at the cost of one corpus scan per chunk). */
  val MaxBroadcastQueries = 65536

  /** Exact top-k. Plants the one top-k operator, VectorTopKJoinNode
    * (plans.VectorTopK), which reads InternalRows directly — ~6×
    * faster than the original Dataset mapPartitions formulation, whose
    * per-row `Seq[Double]` deserialization dominated at ≥1M rows
    * (measured in tools/ScaleProbe). Kept bit-identical semantics
    * (VectorTopKPlanSpec asserts equality with `topKMapPartitions`).
    * Building the plan runs no job: the query side is collected when
    * the plan executes, and the WHOLE query side is held on the driver
    * while it runs (the corpus is scanned once per MaxBroadcastQueries
    * chunk of it) — a caller passing a query table far past 65 536
    * rows pays that driver memory.
    */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: Metric = Cosine,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      qidCol: String = "vec_id",
      qvecCol: String = "embedding"): DataFrame = {
    val res = graft.plans.VectorTopK.topK(corpus, queries, k, metric,
      idCol = idCol, vecCol = vecCol, qidCol = qidCol, qvecCol = qvecCol)
    if (idCol == "vec_id") res else res.withColumnRenamed("vec_id", idCol)
  }

  /** The exact rerank every ANN candidate tier ends in (the reference's
    * refine step: exact distance over the survivors, best k kept —
    * vector_index.py:107-210 `search`, the PQ path in quantization.py).
    * `rows` carry (qid, vec_id, embedding, …payload), unique on
    * (qid, vec_id); `qv` is (qid, qv). The query vectors join through
    * Mat.joinLocal — a plan literal when `qv` is a local relation of at
    * most Mat.JoinLocalMaxRows rows, a broadcast otherwise — each row
    * scores cosineSim(embedding, qv), and each qid's window is cut by
    * (score desc, vec_id asc) to at most k. Returns the payload columns
    * plus `score` and `rank` (int), embedding and qv dropped, unordered:
    * the candidate cut, the final projection and any sort are the
    * caller's. */
  def rerank(rows: DataFrame, qv: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)
    graft.Mat.joinLocal(rows, qv, "qid")
      .withColumn("score", graft.functions.VectorOps.cosineSim(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("embedding", "qv")
  }

  /** rerank over candidates joined back onto a vector scan: `cands`
    * (qid, vec_id, …payload), unique on (qid, vec_id), join the
    * (vec_id, embedding) of `vectors` — the caller's corpus or
    * centroid-pruned layout scan. The ≤ q·R candidates broadcast onto
    * the scan, so the vector side never shuffles. `broadcastCands =
    * false` leaves the join strategy to the planner: the PQ-ADC and NSW
    * searches, whose candidate stages end in extra windows, join back
    * onto the whole corpus, and at sf0.1 on 4 cores AQE's corpus
    * shuffle — run alongside those windows — times faster than a
    * broadcast the corpus scan must wait for (pq_adc_refine ~13%); on
    * ScaleProbe's 1M-row corpus neither join timed faster. */
  def rerankOnto(vectors: DataFrame, cands: DataFrame, qv: DataFrame, k: Int,
      broadcastCands: Boolean = true): DataFrame =
    rerank(vectors.select(col("vec_id"), col("embedding"))
      .join(if (broadcastCands) broadcast(cands) else cands, "vec_id"), qv, k)

  /** A query table's (vec_id, embedding) as rerank's (qid, qv). */
  def queryVectors(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Original Dataset formulation — kept as an independent reference
    * implementation for the equality specs (chunking for oversized
    * query sets lives in plans.VectorTopKJoinExec). */
  def topKMapPartitions(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: Metric = Cosine,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      qidCol: String = "vec_id",
      qvecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession

    // Queries: small side → collect + broadcast, norms precomputed.
    val qRows = queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast(ArrayType(DoubleType)))
      .collect()
    require(qRows.length <= MaxBroadcastQueries,
      s"use topK (chunking) for query sets over $MaxBroadcastQueries")
    val qs: Array[(Long, Array[Double], Double)] = qRows.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      var nb = 0.0; var i = 0
      while (i < v.length) { nb += v(i) * v(i); i += 1 }
      (id, v, math.sqrt(nb))
    }
    val bq = spark.sparkContext.broadcast(qs)
    val m = metric // avoid closing over `this`

    val src = corpus.select(col(idCol).cast("long"), col(vecCol).cast(ArrayType(DoubleType)))
    import spark.implicits._
    val partials = src.as[(Long, Seq[Double])].mapPartitions { it =>
      val queries = bq.value
      val nq = queries.length
      // One bounded TopKPrim per query (worst slot = lowest score,
      // then highest id — matches row_number ORDER BY score DESC,
      // id ASC). Same accumulator as the custom plan; the independent
      // cross-check of this path is KnnSpec's in-memory brute force.
      val heaps = Array.fill(nq)(new graft.plans.TopKPrim(k))
      it.foreach { case (id, vecSeq) =>
        val v = vecSeq.toArray
        val n = v.length
        var sqNa = 0.0
        if (m == Cosine) {
          var i = 0; var na = 0.0
          while (i < n) { na += v(i) * v(i); i += 1 }
          sqNa = math.sqrt(na)
        }
        var qi = 0
        while (qi < nq) {
          val (_, qv, qn) = queries(qi)
          val d = math.min(n, qv.length)
          var score = 0.0
          m match {
            case Cosine =>
              var dot = 0.0; var i = 0
              while (i < d) { dot += v(i) * qv(i); i += 1 }
              score = dot / (sqNa * qn)
            case L2 =>
              var s = 0.0; var i = 0
              while (i < d) { val df = v(i) - qv(i); s += df * df; i += 1 }
              score = 1.0 / (1.0 + s)
            case Ip =>
              var dot = 0.0; var i = 0
              while (i < d) { dot += v(i) * qv(i); i += 1 }
              score = dot
          }
          heaps(qi).offer(score, id)
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        val qid = bq.value(qi)._1
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        h.foreach((s, id) => out += ((qid, id, s)))
        out.iterator
      }
    }.toDF("qid", idCol, "score")

    // Final exact top-k over the tiny partial set.
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col(idCol).asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }
}
