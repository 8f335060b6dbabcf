package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Index-type comparison (reference: main.py demo_index_comparison —
  * flat vs HNSW tradeoff table): per query, overlap@k of each
  * approximate index against the exact scan — exact / IVF / LSH /
  * PQ-ADC side by side. The operators are the graded ones; this query
  * composes them into the reference's comparison surface, and its
  * oracle composes their SQL twins (each approx path's WITH-query
  * nested as a derived table) — so the whole comparison, training
  * included, hash-matches bit-exactly. */
object IndexComparison {
  def indexComparison(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
    val k = VectorSearch.K
    def sel(df: DataFrame, name: String) =
      df.select(lit(name).as("index_type"), col("qid"), col("vec_id"))
    val exact = Knn.topK(emb, queries, k, Knn.Cosine).select(col("qid"), col("vec_id"))
    val approx = sel(Knn.topK(emb, queries, k, Knn.Cosine), "exact")
      .union(sel(IvfIndex.ivfSearch(s, dir), "ivf"))
      .union(sel(LshAnn.lshBucketJoin(s, dir), "lsh"))
      .union(sel(ProductQuant.pqAdcSearch(s, dir), "pq_adc"))
    approx
      .join(exact.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
      .groupBy("index_type", "qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall", col("hits").cast("double") / k)
      .orderBy("index_type", "qid")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("index_comparison" -> (indexComparison _))

  /** Composed from the component twins — the trained ones (IVF, PQ)
    * read the same catalogued codebooks their queries use: each approx
    * twin nests as a derived table. */
  def oracles: Map[String, graft.OracleSql.Twin] = Map[String, graft.OracleSql.Twin](
    ("index_comparison", (s, d) => {
      val ivf = IvfIndex.oracles("ivf_search")(s, d)
      val lsh = LshAnn.oracles("lsh_bucket_join")
      val adc = ProductQuant.oracles("pq_adc_search")(s, d)
      val exact = VectorSearch.oracles("knn_cosine")
      val k = VectorSearch.K
      s"""WITH ex AS MATERIALIZED (SELECT qid, vec_id FROM (
         |$exact
         |) t),
         |ap AS (
         |  SELECT 'exact' AS index_type, qid, vec_id FROM ex
         |  UNION ALL SELECT 'ivf', qid, vec_id FROM (
         |$ivf
         |  ) t1
         |  UNION ALL SELECT 'lsh', qid, vec_id FROM (
         |$lsh
         |  ) t2
         |  UNION ALL SELECT 'pq_adc', qid, vec_id FROM (
         |$adc
         |  ) t3)
         |SELECT a.index_type, a.qid,
         |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/$k.0 AS recall
         |FROM ap a LEFT JOIN ex e ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }))
}
