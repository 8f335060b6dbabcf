package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graded queries for the two physical-plan properties that were
  * spec-only: AQE runtime skew-split and bucketed co-located joins.
  * The plan markers stay pinned in AqeSkewSpec / BucketedJoinSpec /
  * PlanQueriesSpec; here the RESULTS of those execution paths are
  * held to the DuckDB oracle — a skew-split or bucketed scan that
  * corrupted rows would fail the hash gate.
  *
  * Both queries materialize inside the function (localCheckpoint)
  * because the special session confs must hold while the job runs,
  * then be restored. */
object PlanQueries {
  private def withConfs[A](s: SparkSession, kv: (String, String)*)(f: => A): A = {
    val conf = s.conf
    val saved = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** events ⋈ event-type dim under forced AQE skew-split: 5 join keys
    * over the whole fact table = every shuffle partition oversized, so
    * the adaptive executor splits them (forceOptimizeSkewedJoin
    * because a same-keyed aggregate follows). Output: per-type revenue
    * against the dim attribute. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = skewJoinRun(s, dir)._1

  /** The skew join's materialized result and its executed plan text
    * (PlanQueriesSpec reads the plan). */
  private[graft] def skewJoinRun(s: SparkSession, dir: String): (DataFrame, String) = {
    val ev = Tables.load(s, dir, "events")
    val dim = ev.groupBy("event_type")
      .agg(min(round(col("value") * 100).cast("long")).as("min_value_cents"))
    val j = ev.select(col("event_type"), round(col("value") * 100).cast("long").as("vc"))
      .join(dim, "event_type")
      .groupBy("event_type", "min_value_cents")
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_value_cents"))
      .orderBy("event_type")
    withConfs(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      val mat = j.localCheckpoint(true) // runs the job under the skew confs
      (mat, j.queryExecution.executedPlan.toString)
    }
  }

  val qSkewJoinSql: String =
    """WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |d AS (SELECT event_type, min(vc) AS min_value_cents FROM e GROUP BY 1)
      |SELECT e.event_type, d.min_value_cents, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(e.vc) AS BIGINT) AS sum_value_cents
      |FROM e JOIN d ON e.event_type = d.event_type
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** lineitem ⋈ orders through BUCKETED tables (both sides bucketBy
    * the join key): the sort-merge join reads pre-placed buckets with
    * no shuffle exchange — the co-located-join layout a 100 TB fact
    * table is stored in. Output: per-order line stats against the
    * order's total price. */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = bucketedJoinRun(s, dir)._1

  /** The bucketed join's materialized result and its executed plan
    * text (PlanQueriesSpec reads the plan). */
  private[graft] def bucketedJoinRun(s: SparkSession, dir: String): (DataFrame, String) = {
    val li = s"li_bg_${java.util.UUID.randomUUID.toString.take(8)}"
    val ord = s"ord_bg_${java.util.UUID.randomUUID.toString.take(8)}"
    withConfs(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      try {
        // two independent table builds — landed concurrently (§2.6);
        // the fact-side write's job+commit tail idled the dim side's
        graft.Mat.concurrently(
          () => Tables.load(s, dir, "lineitem")
            .select(col("l_orderkey"), round(col("l_quantity") * 100).cast("long").as("qc"))
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .mode("overwrite").saveAsTable(li),
          () => Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("pc"))
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable(ord))
        val j = s.table(li)
          .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("pc").as("total_cents"))
          .agg(count(lit(1)).as("n_lines"), sum(col("qc")).as("sum_qty_cents"))
          .select(col("o_orderkey"), col("total_cents"), col("n_lines"), col("sum_qty_cents"))
          .orderBy("o_orderkey")
        val mat = j.localCheckpoint(true) // runs on the bucketed layout
        (mat, j.queryExecution.executedPlan.toString)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $li")
        s.sql(s"DROP TABLE IF EXISTS $ord")
      }
    }
  }

  val qBucketedJoinSql: String =
    """SELECT o.o_orderkey,
      |  CAST(round(o.o_totalprice*100) AS BIGINT) AS total_cents,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(round(l.l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** The SQL registry surface, GRADED: the whole kNN pipeline driven
    * purely through `spark.sql` over the registered graft functions
    * (GraftFunctions.register — the same registrations
    * GraftExtensions injects at session build). No DataFrame operator
    * in the pipeline: query selection, cosine scoring (the codegen
    * CosineSimD expression resolved BY NAME from SQL), windowed
    * top-k and ordering are all SQL text. Must equal the knn_cosine
    * twin bit-exactly — a registry that resolved to the wrong
    * expression or lost codegen precision breaks the hash. */
  def sqlPipeline(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // VectorTopKRewrite turns the naive CROSS JOIN + window text below
    // into the same partial-top-k physical plan the DataFrame kNN gets
    // — the q×n pair set never materializes (PlanQueriesSpec pins the
    // exec in the plan; results stay hash-identical to the naive plan).
    graft.plans.GraftRules.install(s)
    Tables.registerAll(s, dir)
    s.sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |           FROM embeddings WHERE vec_id < ${VectorSearch.NQueries}),
         |s AS (SELECT q.qid, e.vec_id, cosine_sim(q.qv, e.embedding) AS score
         |      FROM q CROSS JOIN embeddings e)
         |SELECT qid, vec_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM s)
         |WHERE rank <= ${VectorSearch.K} ORDER BY qid, rank""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_join" -> (qSkewJoin _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "sql_pipeline" -> (sqlPipeline _))
  val oracles: Map[String, String] = Map(
    "q_skew_join" -> qSkewJoinSql,
    "q_bucketed_join" -> qBucketedJoinSql,
    "sql_pipeline" -> VectorSearch.knnCosineSql)
}
