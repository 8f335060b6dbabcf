package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.{OracleSql, Tables}

/** Training-data CURATION by coverage: greedy k-center (farthest-first
  * traversal, Gonzalez '85 — the classic 2-approximation to the
  * k-center objective, and the coreset/diversity-sampling recipe a
  * pre-training pipeline runs to pick maximally-spread exemplars from
  * an embedding space; see also herding/k-center coreset selection in
  * active learning, Sener & Savarese ICLR'18).
  *
  * `curate_kcenter`: seed = the lowest vec_id, then k−1 rounds of
  * "pick the point FARTHEST from everything selected so far"
  * (max over points of min over centers of squared L2 — squared
  * distance is monotone in distance, so picks are identical and no
  * sqrt enters the arithmetic). Graded output is the selection trace:
  * (step, vec_id, dist_sq at selection).
  *
  * Distribution shape — this is the honest 100 TB form of the
  * algorithm: each round is ONE map-only pass over the corpus (the
  * freshly-picked center's vector rides in as a LITERAL in the
  * expression — nothing broadcasts but k·dim doubles across the whole
  * run) folding the running min via `least(...)`, followed by a
  * max-reduce (orderBy desc + limit 1 = a TakeOrdered tree-reduce, no
  * shuffle of the corpus). k passes total, zero corpus shuffles, no
  * pairwise materialization. The per-round collect is ONE row.
  *
  * Exactness discipline: per-dimension (x−c)² terms summed in
  * i-ascending left association (the OracleSql.l2sqLit shape), center
  * components rendered through dlit's 17-digit round-trip literals, and
  * the running min folded in selection order — the DuckDB twin unrolls
  * the same chain (least is exact on doubles), so every dist_sq and
  * every argmax tie-break (dm DESC, vec_id ASC) reproduces
  * bit-for-bit.
  */
object Curation {
  /** Selection size: big enough to exercise the min-fold, small enough
    * that the unrolled oracle stays readable. */
  val KCenters = 8

  def curateKcenter(s: SparkSession, dir: String): DataFrame =
    kcenterTable(Tables.load(s, dir, "embeddings"))

  /** min over centers of Σ_i (v_i − c_i)² — each per-center sum runs
    * i-ascending (the l2sqLit association, so every distance VALUE is
    * bit-identical to the oracle's unrolled chain), and the min of a
    * set of doubles is order-independent, so a strict-< scan equals the
    * oracle's least()-fold exactly. A tight JVM kernel instead of a
    * k·dim-term unrolled literal expression: the growing least-chain
    * blows past Janino method limits around k·dim ≈ 300 and falls back
    * to interpreted eval — the kernel stays codegen at any k. */
  def minDistSq(cs: Array[Array[Double]],
                v: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    var best = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val cc = cs(c); var s = 0.0; var i = 0
      while (i < cc.length) { val d = v.getDouble(i) - cc(i); s += d * d; i += 1 }
      if (s < best) best = s
      c += 1
    }
    best
  }

  case class MinDistExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
                         centers: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: org.apache.spark.sql.types.DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      minDistSq(centers, v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centers", centers, "double[][]")
      val cur = Curation.getClass.getName + ".MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $cur.minDistSq($ref, $a);")
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression)
        : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
  }

  private[graft] def kcenterTable(emb0: DataFrame, k: Int = KCenters): DataFrame = {
    val spark = emb0.sparkSession
    val emb = emb0.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("emb"))
    val seed = emb.orderBy(col("vec_id").asc).limit(1)
      .collect()(0)
    var picks = List[(Int, Long, Double)]((1, seed.getLong(0), 0.0))
    var centerVecs = List[Array[Double]](seed.getSeq[Double](1).toArray)
    for (step <- 2 to k) {
      val dmin = org.apache.spark.sql.graftshim.Shims.column(
        MinDistExpr(org.apache.spark.sql.graftshim.Shims.expression(col("emb")),
          centerVecs.reverse.toArray))
      val picked = picks.map(_._2)
      val r = emb.filter(!col("vec_id").isInCollection(picked))
        .select(col("vec_id"), col("emb"), dmin.as("dm"))
        .orderBy(col("dm").desc, col("vec_id").asc).limit(1)
        .collect()(0)
      picks = picks :+ ((step, r.getLong(0), r.getDouble(2)))
      centerVecs = r.getSeq[Double](1).toArray :: centerVecs
    }
    import spark.implicits._
    picks.toDF("step", "vec_id", "dist_sq")
  }

  /** The greedy trace unrolled as CTEs: c1 = seed, then
    * d{t} = least-fold of the running min with the distance to c{t},
    * c{t+1} = argmax (dm DESC, vec_id ASC). Self-contained — the
    * oracle re-derives every center rather than embedding engine
    * output. */
  val curateKcenterSql: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding AS emb FROM embeddings),
         |c1 AS MATERIALIZED (SELECT vec_id, emb FROM e ORDER BY vec_id ASC LIMIT 1),
         |d2 AS MATERIALIZED (
         |  SELECT x.vec_id, ${OracleSql.l2sq("x.emb", "c.emb")} AS dm
         |  FROM e x CROSS JOIN c1 c WHERE x.vec_id <> c.vec_id)""".stripMargin)
    for (t <- 2 to KCenters) {
      sb.append(
        s""",
           |c$t AS MATERIALIZED (
           |  SELECT d.vec_id, d.dm, x.emb FROM d$t d JOIN e x ON x.vec_id = d.vec_id
           |  ORDER BY d.dm DESC, d.vec_id ASC LIMIT 1)""".stripMargin)
      if (t < KCenters) sb.append(
        s""",
           |d${t + 1} AS MATERIALIZED (
           |  SELECT d.vec_id, least(d.dm, ${OracleSql.l2sq("x.emb", "c.emb")}) AS dm
           |  FROM d$t d JOIN e x ON x.vec_id = d.vec_id CROSS JOIN c$t c
           |  WHERE d.vec_id <> c.vec_id)""".stripMargin)
    }
    val steps = (2 to KCenters)
      .map(t => s"SELECT CAST($t AS INT) AS step, vec_id, dm AS dist_sq FROM c$t")
      .mkString("\n UNION ALL ")
    sb.append(
      s"""
         |SELECT CAST(1 AS INT) AS step, vec_id, 0.0e0 AS dist_sq FROM c1
         | UNION ALL $steps
         |ORDER BY step""".stripMargin)
    sb.toString
  }

  // ------------------------------------------------- cluster topics

  /** CLUSTER TOPIC LABELING — the distinctive-terms table (the
    * c-TF-IDF idea of BERTopic, Grootendorst 2022, in its
    * skew-robust LIFT form): k-means cluster the embedding space,
    * then describe each cluster by the terms most OVER-REPRESENTED in
    * it relative to their corpus share — the "what is actually in my
    * 100 TB corpus" table a curation pipeline reads before deciding
    * mixes and filters. lift_ppm = (tf_wc · T · 10⁶) div
    * (tok_c · tf_w) compares the term's in-cluster token share
    * against its corpus-wide share as one exact rational (10⁶ = no
    * lift; DECIMAL-widened products, integral division, no libm) —
    * unlike a cluster-df cut this stays informative even when every
    * term reaches every cluster (true of any small shared vocabulary,
    * including the graded corpus). Min-support tf ≥ MinTopicTf keeps
    * one-off terms from posting giant lifts. Top-5 per cluster by
    * (lift DESC, term ASC).
    *
    * Scale shape: ONE tokenize pass (the bm25 discipline — the
    * (centroid, word) count is the only corpus-sized shuffle,
    * wordcount-shaped, map-side combinable); the corpus term table is
    * vocabulary-sized, per-cluster token counts broadcast, and the
    * final window partitions by cluster over the tf table — at 100 TB
    * the same plan stands with nlist grown to ~100k (the SemDeDup
    * ratio). Assignment replays in the oracle from the corpus
    * codebook's literals (the semdedup pattern). */
  val TopicNlist = 8
  val TopicTopN = 5
  val MinTopicTf = 5L

  def clusterTopics(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val assigned = IvfIndex.assign(emb, IvfIndex.centroidsFor(s, dir, TopicNlist))
      .select(col("vec_id"), col("centroid"))
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    clusterTopicsOn(docs.join(assigned, col("doc_id") === col("vec_id"))
      .select(col("centroid"), col("text")))
  }

  /** The lift table over any (centroid, text) frame — injectable for
    * the spec's vocabulary-planted clusters. */
  private[graft] def clusterTopicsOn(nd: DataFrame): DataFrame = {
    val tok = nd.select(col("centroid"),
      explode(split(trim(col("text")), "\\s+")).as("term"))
    val tf = tok.groupBy("centroid", "term").agg(count(lit(1)).as("tf"))
    val tw = tf.groupBy("term").agg(sum("tf").as("tfw"))
    val tc = tf.groupBy("centroid").agg(sum("tf").as("toks"))
    val tt = tf.agg(sum("tf").as("total"))
    val sc = tf.join(tw, "term")
      .join(broadcast(tc), "centroid")
      .crossJoin(broadcast(tt))
      .filter(col("tf") >= MinTopicTf)
      .withColumn("lift_ppm", expr(
        "cast(cast(tf as decimal(38,0)) * total * 1000000 div (cast(toks as decimal(38,0)) * tfw) as long)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("centroid").orderBy(col("lift_ppm").desc, col("term").asc)
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopicTopN)
      .select(col("centroid"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("toks"), col("lift_ppm"))
      .orderBy("centroid", "rank")
  }

  private def clusterTopicsSql(centroids: Array[Array[Double]]): String =
    s"""WITH dd AS MATERIALIZED (
       |  SELECT vec_id, ${OracleSql.distList("embedding", centroids)} AS dl
       |  FROM embeddings),
       |asg AS (SELECT vec_id,
       |        CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS centroid FROM dd),
       |nd AS MATERIALIZED (SELECT asg.centroid, d.text
       |      FROM documents d JOIN asg ON asg.vec_id = d.doc_id),
       |tok AS (SELECT centroid,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM nd),
       |tf AS MATERIALIZED (SELECT centroid, term, CAST(count(*) AS BIGINT) AS tf
       |      FROM tok GROUP BY 1, 2),
       |tw AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tfw FROM tf GROUP BY 1),
       |tc AS (SELECT centroid, CAST(sum(tf) AS BIGINT) AS toks FROM tf GROUP BY 1),
       |tt AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
       |sc AS (SELECT tf.centroid, tf.term, tf.tf, tc.toks,
       |         CAST((tf.tf::HUGEINT * tt.total * 1000000)
       |           // (tc.toks::HUGEINT * tw.tfw) AS BIGINT) AS lift_ppm
       |       FROM tf JOIN tw USING (term) JOIN tc USING (centroid) CROSS JOIN tt
       |       WHERE tf.tf >= $MinTopicTf),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY centroid
       |         ORDER BY lift_ppm DESC, term ASC) AS rank FROM sc)
       |SELECT centroid, CAST(rank AS BIGINT) AS rank, term, tf, toks, lift_ppm
       |FROM rr WHERE rank <= $TopicTopN
       |ORDER BY centroid, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_kcenter" -> (curateKcenter _),
    "cluster_topics" -> (clusterTopics _))
  def oracles: Map[String, graft.OracleSql.Twin] =
    graft.OracleSql.fixed(Map("curate_kcenter" -> curateKcenterSql)) ++
    Map[String, graft.OracleSql.Twin](
      ("cluster_topics", (s, d) => clusterTopicsSql(IvfIndex.centroidsFor(s, d, TopicNlist))))
}
