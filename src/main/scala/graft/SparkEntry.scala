package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BinaryQuant, Bm25, Bpe, Curation, DataMix, Dedup, EvalMetrics, GraphRank, HnswAnn, IndexComparison, IvfIndex, IvfPq, Knn, LayoutQueries, Multiscale, MultiVector, NnDescent, LshAnn, Mmr, PipelineOps, PlanQueries, ProductQuant, Projection, Relational, ServeE2e, Sketches, TextOps, TpcFull, VectorAvg, VectorSearch, Warehouse}

/** Driver contract — see /root/repo/SURVEY.md §2/§7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Cross-modal cosine k-NN joined back to vector metadata. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.knn(Knn.Cosine)(spark, dir)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ VectorSearch.queries ++ TextOps.queries ++
      EvalMetrics.queries ++ Dedup.queries ++ IvfIndex.queries ++
      LshAnn.queries ++ ProductQuant.queries ++ Mmr.queries ++ Projection.queries ++ IvfPq.queries ++ NnDescent.queries ++ IndexComparison.queries ++
      graft.streaming.StreamingQueries.queries ++ VectorAvg.queries ++ LayoutQueries.queries ++
      HnswAnn.queries ++ PlanQueries.queries ++ Multiscale.queries ++
      BinaryQuant.queries ++ DataMix.queries ++ PipelineOps.queries ++ Bpe.queries ++
      Bm25.queries ++ MultiVector.queries ++ GraphRank.queries ++ Sketches.queries ++
      Curation.queries ++ TpcFull.queries ++ Warehouse.queries ++ ServeE2e.queries ++
      Map("multimodal_embed" -> ((s: SparkSession, dir: String) =>
        graft.multimodal.BinaryColumns.mediaFeatures(s, dir)
          .select(col("vec_id"), col("modality"), size(col("embedding")).as("dim"))
          .orderBy("vec_id")))

  /** DuckDB twins for the correctness gate, one per graded
    * key — a function of the same (session, corpus dir) its query
    * reads. Trained twins (IVF/PQ codebooks, NSW graphs, BPE merges)
    * call the query's own named build functions, which graft.Catalog
    * keys on the input tables' content + build params + Spark
    * application id:
    * whichever of query and twin runs first pays the build, the other
    * reads it, so a twin is independent of run order and embeds the
    * identical deterministic literals either way. */
  def oracleSql: Map[String, OracleSql.Twin] =
    OracleSql.fixed(Relational.oracles ++ VectorSearch.oracles ++ TextOps.oracles ++
      EvalMetrics.oracles ++ LshAnn.oracles ++ Mmr.oracles ++ Projection.oracles ++
      NnDescent.oracles ++ VectorAvg.oracles ++
      LayoutQueries.oracles ++ PlanQueries.oracles ++ Multiscale.oracles ++
      DataMix.oracles ++ PipelineOps.oracles ++ Bm25.oracles ++ GraphRank.oracles ++
      Sketches.oracles ++ TpcFull.oracles ++ Warehouse.oracles ++
      Map("multimodal_embed" ->
        """SELECT doc_id AS vec_id,
          |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
          |  CAST(64 AS INT) AS dim
          |FROM documents ORDER BY vec_id""".stripMargin)) ++
      Dedup.oracles ++ IvfIndex.oracles ++ ProductQuant.oracles ++ IvfPq.oracles ++
      IndexComparison.oracles ++
      graft.streaming.StreamingQueries.oracles ++ HnswAnn.oracles ++
      BinaryQuant.oracles ++ Bpe.oracles ++ MultiVector.oracles ++ Curation.oracles ++
      ServeE2e.oracles

  /** Feasible-at-scale twin OVERRIDES for the large-SF certification
    * (dumped by Verify as oracle_sql_scaled.json; the driver's graded
    * gate keeps the quadratic `oracleSql` twins). Keys not present
    * here certify against the graded twin unchanged. */
  def oracleSqlScaled: Map[String, String] =
    Dedup.oraclesScaled ++ TextOps.oraclesScaled
}
