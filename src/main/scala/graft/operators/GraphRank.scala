package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Mat, OracleSql}

/** PageRank over the exact k-NN similarity graph — graph centrality
  * for data curation (Page et al. 1999).
  *
  * Training-data pipelines use centrality over similarity/citation
  * graphs to pick canonical documents out of near-dup clusters and to
  * propagate quality signals; the reference has no graph analytics at
  * all. This runs the classic damped PageRank over the engine's own
  * `knn_graph` edges (every vector's exact top-K cosine neighbors —
  * out-degree exactly K for every node) as iterative DataFrame joins —
  * the Pregel-as-DataFrame loop: per iteration one join of the edge
  * table against the rank table plus one dst-keyed aggregate, shuffle
  * bounded by |edges| = n·K. At 100 TB both sides pre-partition by id
  * so the per-iteration exchange reuses one partitioning.
  *
  * Bit-exactness: FIXED-POINT integer arithmetic end to end (the
  * text_tfidf discipline) — ranks are longs scaled by 10¹²,
  * contribution = r div K (long division), damping applied as
  * (85·Σ) div 100 with the base term (15·10¹²) div (100·n) — sums of
  * longs are order-independent, so every iteration is exactly
  * reproducible and the twin unrolls all T iterations as CTEs over
  * the same edge derivation. */
object GraphRank {
  val T = 5                       // fixed iteration count
  val Scale = 1000000000000L      // 10^12 fixed-point scale
  private val G = VectorSearch.K  // out-degree: the knn_graph fan-out

  /** Shared edge table — the bm25 postings-layout lesson applied to
    * the graph family: TEN graded graph queries derive the SAME exact
    * kNN graph, so per `embeddings` content and Spark application
    * (graft.Catalog) it materializes once (eager localCheckpoint) and
    * every operator serves from it —
    * one O(n²) scoring job per corpus instead of one per query
    * (bench: each graph query was paying 3-4 s of identical
    * derivation at sf0.1). At 100 TB the graph is an at-rest layout
    * built by one job — how the NSW and postings layouts already
    * persist — and the quadratic exactness twin is never the
    * production builder anyway (nn_descent_graph / knn_graph_pruned
    * are the scale paths). Same derivation, same determinism, values
    * unchanged. */
  private[graft] def sharedEdges(s: SparkSession, dir: String): DataFrame =
    graft.Catalog.getOrBuild("graph.edges", s, dir, Seq("embeddings")) {
      // a thin projection of the ALREADY-CHECKPOINTED shared kNN rows
      // (VectorSearch.knnGraphShared, itself catalogued — a nested
      // build) — one scoring job per corpus, shared with the graded
      // knn_graph key itself, payer pinned
      VectorSearch.knnGraphShared(s, dir)
        .select(col("qid").as("src"), col("vec_id").as("dst"))
        .localCheckpoint(true)
    }

  /** A loop's input edges and their count, the count materializing
    * them: a lazy edge plan is persisted BEFORE it is counted, so it
    * runs once — not once for the count and again when the loop
    * persists its own derived edge table. Input that is already
    * materialized (checkpointed, local or cached) is counted as it is
    * and left as the caller had it. */
  private def withCountedEdges[T](rawEdges: DataFrame)(body: (DataFrame, Long) => T): T = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val ready = rawEdges.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
      (rawEdges.queryExecution.optimizedPlan match {
        case _: LogicalRDD | _: LocalRelation => true
        case _ => false
      })
    val edges = if (ready) rawEdges
      else rawEdges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(edges, edges.count())
    finally if (!ready) edges.unpersist(blocking = false)
  }

  def pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankOverEdges(sharedEdges(s, dir), G)
      .select(col("id").as("vec_id"), col("pr_scaled"))
      .orderBy("vec_id")

  /** Global PageRank over any constant-out-degree (src, dst) edge
    * table, shared by the graded query and the ScaleProbe datapoint:
    * the seeded loop (pprOverEdges) with every node a seed. With the
    * seed count equal to the node count, its base term and initial
    * mass are the global ones, in the same integer arithmetic. */
  def pagerankOverEdges(rawEdges: DataFrame, outDeg: Int): DataFrame =
    pprOverEdges(rawEdges, outDeg, Long.MaxValue)
      .withColumnRenamed("ppr_scaled", "pr_scaled")

  /** The twin: edges re-derived exactly as knnGraphSql derives them,
    * then every iteration unrolled — same integer arithmetic. The CTE
    * chain is exposed separately so composing oracles (canonical-rank
    * selection) can reuse the whole derivation. */
  val pagerankSql: String =
    s"""WITH $pagerankCtes
       |SELECT id AS vec_id, r AS pr_scaled FROM r$T ORDER BY vec_id""".stripMargin

  /** The shared knn-graph edge derivation (nrm → g) + node count. */
  private lazy val edgeCtes: String = {
    val k = VectorSearch.K
    s"""nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |            FROM embeddings),
       |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, n.nm AS qn
       |      FROM embeddings e JOIN nrm n ON e.vec_id = n.vec_id),
       |sc AS (SELECT q.qid, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q CROSS JOIN embeddings e JOIN nrm n ON e.vec_id = n.vec_id
       |      WHERE e.vec_id <> q.qid),
       |g AS (SELECT qid AS src, vec_id AS dst FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM sc) WHERE rnk <= $k),
       |nc AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS c FROM g)""".stripMargin
  }

  /** edgeCtes with the (expensive, multi-referenced) graph CTE pinned
    * MATERIALIZED so inlining planners evaluate the n² scoring once. */
  private lazy val edgeCtesMat: String =
    edgeCtes.replace("g AS (", "g AS MATERIALIZED (")

  private[graft] lazy val pagerankCtes: String = {
    // r_i feeds both the next contribution join and the next rank row
    // set — MATERIALIZED, or an inlining planner re-evaluates the
    // chain (and the n² edge derivation under it) exponentially in T
    val iters = (1 to T).map { i =>
      s"""c$i AS (SELECT g.dst, r${i - 1}.r // $G AS c
         |        FROM g JOIN r${i - 1} ON r${i - 1}.id = g.src),
         |s$i AS (SELECT dst, CAST(sum(c) AS BIGINT) AS insum FROM c$i GROUP BY dst),
         |r$i AS MATERIALIZED (SELECT r${i - 1}.id,
         |          (15 * ${Scale}::BIGINT) // (100 * nc.c)
         |            + (85 * COALESCE(s$i.insum, 0)) // 100 AS r
         |        FROM r${i - 1} CROSS JOIN nc
         |        LEFT JOIN s$i ON s$i.dst = r${i - 1}.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtesMat,
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS id, ${Scale}::BIGINT // nc.c AS r
       |       FROM g CROSS JOIN nc),
       |$iters""".stripMargin
  }

  // -------------------------------------------- personalized PageRank

  /** Personalized (seeded) PageRank — query-biased centrality (the
    * "related documents" ranking; Page et al.'s personalization
    * vector restricted to a seed set): the teleport mass lands ONLY on
    * the seed docs (vec_id < Seeds, the engine's query-doc
    * convention), so rank measures proximity-weighted reachability
    * FROM the seeds through the similarity graph rather than global
    * centrality — the curation shape for "expand this curated seed set
    * with the most-related corpus docs". Same Pregel-as-DataFrame loop
    * and fixed-point integer arithmetic as graph_pagerank (base term
    * gated on seed membership; init mass Scale div |S| on seeds, zero
    * elsewhere; every iteration an order-independent long sum), so the
    * twin unrolls identically — oracle-checked bit-exact. */
  val Seeds = 10L
  def pprSeeded(s: SparkSession, dir: String): DataFrame =
    pprOverEdges(sharedEdges(s, dir), G, Seeds)
      .select(col("id").as("vec_id"), col("ppr_scaled"))
      .orderBy("vec_id")

  /** The PageRank iteration loop, seeded on the nodes with id <
    * seedsBelow (Long.MaxValue: every node, global PageRank). Iterative
    * hygiene: edges/nodes materialize ONCE (distributed — never a driver
    * collect), and on a big graph every iteration's rank table
    * checkpoints too, so iteration k's plan is one join + one aggregate
    * — not a k-deep recomputation chain. Measured at 1M nodes × 10
    * edges: driver-side detach 271 s → per-iteration checkpoints 33 s →
    * partitioned edge cache 13 s.
    *
    * Deliberately NOT wrapped in Mat.withLoopPartitions: with no
    * mid-loop action (small graphs take the single-action lazy path,
    * big graphs size to the cap anyway) the wrapper would need its own
    * forced materializations, and that was MEASURED to regress the
    * single-action form 0.35 → 0.82 s at sf0.1 (+4 driver round-trips
    * outweigh 32→3-task stage savings). canonicalRank evaluates this
    * same lazy chain inside its own loop scope instead. The result is
    * materialized once (eager localCheckpoint) before the edge cache is
    * released, so no cached block outlives the call. */
  def pprOverEdges(rawEdges: DataFrame, outDeg: Int, seedsBelow: Long): DataFrame = {
    // edges CACHED pre-partitioned on the join key: every iteration's
    // edge⋈rank join reuses this one exchange and only the (node-count
    // sized) rank side shuffles — localCheckpoint would lose the
    // partitioning and re-shuffle all |edges| rows per iteration
    val parts = rawEdges.sparkSession.sessionState.conf.numShufflePartitions
    val edges = rawEdges.repartition(parts, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // superstep checkpoints truncate the iteration lineage — essential
    // at scale, pure scheduling overhead on a small graph where a
    // 5-deep plan executes in one job; cut over on edge count
    val big = edges.count() > 1000000L
    def step(df: DataFrame): DataFrame = if (big) df.localCheckpoint(true) else df
    val nodes = step(edges.select(col("src").as("id")).distinct())
    val ns = nodes.filter(col("id") < seedsBelow).count()
    require(ns > 0, s"no seed nodes below $seedsBelow in the graph")
    val base = (15L * Scale) / (100L * ns)
    var r = step(nodes.withColumn("r",
      when(col("id") < seedsBelow, lit(Scale / ns)).otherwise(lit(0L))))
    for (_ <- 1 to T) {
      val insum = edges.join(r.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr(s"r div $outDeg").as("c"))
        .groupBy("dst").agg(sum("c").as("insum"))
      r = step(nodes.join(insum.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (when(col("id") < seedsBelow, lit(base)).otherwise(lit(0L)) +
            expr("(85 * coalesce(insum, 0L)) div 100")).as("r")))
    }
    r.select(col("id"), col("r").as("ppr_scaled")).localCheckpoint(true)
    } finally edges.unpersist(blocking = false)
  }

  /** Seeded twin: the same edge chain, init/base gated on the seed
    * predicate, every iteration unrolled. */
  val pprSeededSql: String = {
    val iters = (1 to T).map { i =>
      s"""pc$i AS (SELECT g.dst, p${i - 1}.r // $G AS c
         |        FROM g JOIN p${i - 1} ON p${i - 1}.id = g.src),
         |ps$i AS (SELECT dst, CAST(sum(c) AS BIGINT) AS insum FROM pc$i GROUP BY dst),
         |p$i AS MATERIALIZED (SELECT p${i - 1}.id,
         |          CASE WHEN p${i - 1}.id < $Seeds
         |               THEN (15 * ${Scale}::BIGINT) // (100 * sn.c) ELSE 0 END
         |            + (85 * COALESCE(ps$i.insum, 0)) // 100 AS r
         |        FROM p${i - 1} CROSS JOIN sn
         |        LEFT JOIN ps$i ON ps$i.dst = p${i - 1}.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtesMat,
       |sn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS c FROM g WHERE src < $Seeds),
       |p0 AS MATERIALIZED (SELECT DISTINCT src AS id,
       |         CASE WHEN src < $Seeds THEN ${Scale}::BIGINT // sn.c ELSE 0 END AS r
       |       FROM g CROSS JOIN sn),
       |$iters
       |SELECT id AS vec_id, r AS ppr_scaled FROM p$T ORDER BY vec_id""".stripMargin
  }

  /** Centrality-based canonical selection — what a curation pipeline
    * DOES with the rank: inside each embedding-near-dup cluster
    * (TextOps.dedupEmbedding pairs → Dedup.connectedComponents), keep
    * the member with the highest similarity-graph PageRank (tie: lower
    * id) as the canonical document, instead of the arbitrary min-id
    * convention. Output per clustered vector: its component label,
    * the centrality-chosen canonical, and its own scaled rank — all
    * integer/exact, every stage already graded on its own (the pairs,
    * the components, the rank), composed here into one statement on
    * both engines. */
  def canonicalRank(s: SparkSession, dir: String): DataFrame = {
    // the compute-dense pair scoring and the CC materialize OUTSIDE the
    // loop scope (full session parallelism for the n² similarity pass);
    // the pagerank iterations + window/joins — all sized by the kNN
    // edge count — evaluate INSIDE it (guide §2: superstep shuffles
    // sized from the working set, not the session's corpus constant)
    val pairs = TextOps.dedupEmbedding(s, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val cc = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("canonical_id").as("comp"))
    val edges = sharedEdges(s, dir)
    Mat.withLoopPartitions(s, edges.count()) {
      val pr = pagerank(s, dir)
      // j embeds the whole pagerank iteration chain and is referenced
      // twice (canon + the final join) — LAZY checkpoint shares one
      // evaluation without scheduling its own job
      val j = cc.join(pr, "vec_id").localCheckpoint(false)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("comp").orderBy(col("pr_scaled").desc, col("vec_id").asc)
      val canon = j.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("comp"), col("vec_id").as("canonical_id"))
      // eager: the pagerank chain and both joins execute here, under
      // the loop-sized conf
      j.join(canon, "comp")
        .select(col("vec_id"), col("comp"), col("canonical_id"), col("pr_scaled"))
        .localCheckpoint(true)
    }.orderBy("vec_id")
  }

  val canonicalRankSql: String =
    s"""WITH RECURSIVE $pagerankCtes,
       |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb
       |       FROM embeddings a JOIN embeddings b
       |         ON a.label = b.label AND a.vec_id < b.vec_id
       |       JOIN nrm na ON na.vec_id = a.vec_id
       |       JOIN nrm nb ON nb.vec_id = b.vec_id
       |       WHERE ${OracleSql.dot("a.embedding", "b.embedding")}
       |         / (na.nm * nb.nm) >= ${TextOps.NearDupTau}),
       |ce AS (SELECT va AS src, vb AS dst FROM dp
       |       UNION ALL SELECT vb, va FROM dp),
       |cn AS (SELECT DISTINCT src AS id FROM ce),
       |reach(id, comp) AS (
       |  SELECT id, id FROM cn
       |  UNION
       |  SELECT e.dst, r2.comp FROM reach r2 JOIN ce e ON r2.id = e.src),
       |cmp AS (SELECT id, CAST(min(comp) AS BIGINT) AS comp FROM reach GROUP BY id),
       |j AS (SELECT cmp.id, cmp.comp, r$T.r AS pr FROM cmp JOIN r$T ON r$T.id = cmp.id),
       |can AS (SELECT comp, id AS canonical_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY comp
       |    ORDER BY pr DESC, id ASC) AS rk FROM j) WHERE rk = 1)
       |SELECT j.id AS vec_id, j.comp, can.canonical_id, j.pr AS pr_scaled
       |FROM j JOIN can ON can.comp = j.comp
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------- HITS

  /** HITS hubs & authorities over the similarity graph (Kleinberg,
    * JACM'99) — the second centrality the curation stack wants: on a
    * k-NN graph a high AUTHORITY is a document many other documents
    * point at as a near neighbor (a density/prototypicality signal,
    * distinct from PageRank's random-walk mass), a high HUB is one
    * whose neighborhood consists of such prototypes. Same
    * Pregel-as-DataFrame loop as graph_pagerank (per half-iteration
    * one edge⋈score join + one aggregate, shuffle bounded by n·K, the
    * partitioned-edge cache reused throughout). Bit-exactness: the
    * usual L2 normalization is replaced by fixed-point MAX
    * normalization — after each half-step every score rescales as
    * (raw·Scale) div max(raw) (DECIMAL-widened product, integral
    * division) — a deterministic integer renormalization that keeps
    * the iteration bounded in [0, Scale] with NO square root or IEEE
    * division anywhere, so the twin unrolls all T iterations (sum →
    * cross-joined max → rescale, twice per iteration) digit-for-digit.
    * Raw sums stay under in-degree·Scale ≤ n·10¹² — Int64-safe through
    * ~10⁶ nodes, the DECIMAL accumulator is the documented widening
    * past that. */
  val HitsT = 3

  def hits(s: SparkSession, dir: String): DataFrame =
    hitsOverEdges(sharedEdges(s, dir))
      .select(col("id").as("vec_id"), col("hub_scaled"), col("auth_scaled"))
      .orderBy("vec_id")

  def hitsOverEdges(input: DataFrame): DataFrame = withCountedEdges(input) { (rawEdges, nEdges) =>
    Mat.withLoopPartitions(rawEdges.sparkSession, nEdges) {
    val parts = rawEdges.sparkSession.sessionState.conf.numShufflePartitions
    val edges = rawEdges.repartition(parts, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val big = nEdges > 1000000L
    def step(df: DataFrame): DataFrame = if (big) df.localCheckpoint(true) else df
    val nodes = step(edges.select(col("src").as("id")).distinct())
    // one half-step: raw in-sums over `key` (dst for auth, src for hub),
    // missing nodes at 0, then fixed-point max-rescale. The max is a
    // PLAN-SIDE broadcast cross join (the twin's own structure), NOT a
    // driver action — a mid-loop action per half-step would re-execute
    // the un-truncated chain quadratically in T on small graphs where
    // the superstep checkpoint is off.
    def half(score: DataFrame, key: String, other: String): DataFrame = {
      val raw = edges.join(score.withColumnRenamed("id", other), other)
        .groupBy(col(key).as("id")).agg(sum("r").as("raw"))
      // the rescale references `full` twice (max side + value side):
      // LAZY localCheckpoint shares one evaluation and truncates the
      // lineage without scheduling an extra job per half-step
      val full = nodes.join(raw, Seq("id"), "left")
        .withColumn("raw", coalesce(col("raw"), lit(0L)))
        .localCheckpoint(false)
      step(full.crossJoin(broadcast(full.agg(max("raw").as("mx"))))
        .select(col("id"),
          expr(s"cast(cast(raw as decimal(38,0)) * $Scale div mx as long)").as("r")))
    }
    var hub = step(nodes.withColumn("r", lit(Scale)))
    var auth = hub
    for (_ <- 1 to HitsT) {
      auth = half(hub, "dst", "src")   // authorities gather from hubs
      hub = half(auth, "src", "dst")   // hubs gather from authorities
    }
    nodes.join(hub.withColumnRenamed("r", "hub_scaled"), "id")
      .join(auth.withColumnRenamed("r", "auth_scaled"), "id")
      .localCheckpoint(true)
    } finally edges.unpersist(blocking = false)
    }
  }

  val hitsSql: String = {
    // af/hf feed both the max and the rescale — MATERIALIZED, or an
    // inlining planner re-evaluates the whole 2-ref chain (and the
    // corpus-sized edge derivation under it) exponentially in T
    val iters = (1 to HitsT).map { i =>
      s"""ar$i AS (SELECT g.dst AS id, CAST(sum(hh${i - 1}.r) AS BIGINT) AS raw
         |         FROM g JOIN hh${i - 1} ON hh${i - 1}.id = g.src GROUP BY 1),
         |af$i AS MATERIALIZED (SELECT nd.id, COALESCE(ar$i.raw, 0) AS raw
         |         FROM nd LEFT JOIN ar$i ON ar$i.id = nd.id),
         |am$i AS (SELECT max(raw) AS mx FROM af$i),
         |aa$i AS MATERIALIZED (SELECT id, CAST((raw::HUGEINT * $Scale) // mx AS BIGINT) AS r
         |         FROM af$i CROSS JOIN am$i),
         |hr$i AS (SELECT g.src AS id, CAST(sum(aa$i.r) AS BIGINT) AS raw
         |         FROM g JOIN aa$i ON aa$i.id = g.dst GROUP BY 1),
         |hf$i AS MATERIALIZED (SELECT nd.id, COALESCE(hr$i.raw, 0) AS raw
         |         FROM nd LEFT JOIN hr$i ON hr$i.id = nd.id),
         |hm$i AS (SELECT max(raw) AS mx FROM hf$i),
         |hh$i AS MATERIALIZED (SELECT id, CAST((raw::HUGEINT * $Scale) // mx AS BIGINT) AS r
         |         FROM hf$i CROSS JOIN hm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtesMat,
       |nd AS MATERIALIZED (SELECT DISTINCT src AS id FROM g),
       |hh0 AS (SELECT id, ${Scale}::BIGINT AS r FROM nd),
       |$iters
       |SELECT nd.id AS vec_id, hh$HitsT.r AS hub_scaled, aa$HitsT.r AS auth_scaled
       |FROM nd JOIN hh$HitsT ON hh$HitsT.id = nd.id
       |JOIN aa$HitsT ON aa$HitsT.id = nd.id
       |ORDER BY vec_id""".stripMargin
  }

  // -------------------------------------------------- triangle count

  /** Per-node TRIANGLE COUNTS over the similarity graph — the local
    * clustering signal (a vector whose neighbors are also mutual
    * neighbors sits inside a dense semantic clump; one with zero
    * triangles is a hub between unrelated regions or an outlier).
    * DEGREE-ORIENTED counting (the MapReduce-canonical scheme, cf.
    * Suri & Vassilvitskii WWW'11): each undirected edge becomes one
    * arc low→high by the total order (degree, id) — packed into a
    * single comparable long key — so every triangle has exactly one
    * node with two out-arcs and is found once, and a node's out-degree
    * is bounded by O(√m) on any graph (the orientation bounds wedge
    * generation by arboricity — THE property that makes all-pairs
    * wedge joins survive power-law degree skew at 100 TB, where an
    * id-ordering would put a celebrity node's full neighborhood into
    * one wedge set). Two equi-joins total: arcs⋈arcs on the wedge
    * apex, wedges⋈arcs on the closing pair — both shuffle-bounded by
    * |arcs| and the wedge count; all integers, no tolerance anywhere. */
  def triangles(s: SparkSession, dir: String): DataFrame =
    trianglesOverEdges(sharedEdges(s, dir))
      .orderBy("vec_id")

  def trianglesOverEdges(rawEdges: DataFrame): DataFrame = {
    val und = rawEdges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    // orientation key (degree, id) packed into one long; id < 2^33 by
    // the testdata id convention (a cluster deployment widens to a
    // struct key — same total order)
    val withK = und
      .join(deg.select(col("id").as("u"), expr("dg * 8589934592 + id").as("ku")), "u")
      .join(deg.select(col("id").as("v"), expr("dg * 8589934592 + id").as("kv")), "v")
    val arcs = withK.select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("a"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("b"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // built before the self-join plans: both sides then read one loaded
    // cache of known size, so the join shape no longer depends on which
    // side's cache stage finishes first
    arcs.count()
    val wedges = arcs.alias("x").join(arcs.alias("y"),
        col("x.a") === col("y.a") && col("x.kb") < col("y.kb"))
      .select(col("x.a").as("t1"), col("x.b").as("t2"), col("y.b").as("t3"))
    val tri = wedges.join(
      arcs.select(col("a").as("t2"), col("b").as("t3")), Seq("t2", "t3"))
    val perNode = tri.select(explode(array(col("t1"), col("t2"), col("t3"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    rawEdges.select(col("src").as("id")).distinct()
      .join(perNode, Seq("id"), "left")
      .select(col("id").as("vec_id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .localCheckpoint(true)
    } finally arcs.unpersist(blocking = false)
  }

  val trianglesSql: String =
    s"""WITH $edgeCtesMat,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g),
       |dgt AS (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
       |         SELECT u AS id FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
       |wk AS (SELECT u, v, du.dg * 8589934592 + u AS ku, dv.dg * 8589934592 + v AS kv
       |       FROM und JOIN dgt du ON du.id = u JOIN dgt dv ON dv.id = v),
       |arcs AS MATERIALIZED (SELECT CASE WHEN ku < kv THEN u ELSE v END AS a,
       |                CASE WHEN ku < kv THEN v ELSE u END AS b,
       |                CASE WHEN ku < kv THEN kv ELSE ku END AS kb FROM wk),
       |wdg AS (SELECT x.a AS t1, x.b AS t2, y.b AS t3
       |        FROM arcs x JOIN arcs y ON x.a = y.a AND x.kb < y.kb),
       |tri AS MATERIALIZED (SELECT t1, t2, t3 FROM wdg
       |        JOIN arcs z ON z.a = wdg.t2 AND z.b = wdg.t3),
       |pn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |         SELECT t1 AS id FROM tri UNION ALL SELECT t2 FROM tri
       |         UNION ALL SELECT t3 FROM tri) GROUP BY 1),
       |ndt AS (SELECT DISTINCT src AS id FROM g)
       |SELECT ndt.id AS vec_id, COALESCE(pn.n_tri, 0) AS n_tri
       |FROM ndt LEFT JOIN pn ON pn.id = ndt.id
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------- label modularity

  /** MODULARITY of the label partition over the similarity graph — the
    * cluster-quality eval (Newman & Girvan 2004): how much more of the
    * k-NN graph's edge mass falls inside the label classes than a
    * degree-preserving random graph would put there. Q = Σ_c [L_c/m −
    * (d_c/2m)²] computed EXACTLY: per class the contribution numerator
    * 4·m·L_c − d_c² is an integer (DECIMAL-widened products), and the
    * graded table carries it beside one integral-division ppm per
    * class — so the eval is bit-reproducible, no float accumulation.
    * The inputs are two integer aggregates over the undirected edge
    * set joined twice against the (vec_id, label) table — shuffle
    * bounded by |edges|; at 100 TB both joins co-partition on id. */
  def labelModularity(s: SparkSession, dir: String): DataFrame =
    modularityOverEdges(
      sharedEdges(s, dir),
      graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label")))

  /** The modularity core over any (src, dst) edge + (vec_id, label)
    * table — injectable for the spec's planted partitions. */
  private[graft] def modularityOverEdges(edges: DataFrame,
                                         labels: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val m = und.count()
    val lab2 = und
      .join(labels.select(col("vec_id").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("vec_id").as("v"), col("label").as("lv")), "v")
    val within = lab2.filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("l_within"))
    val degSum = lab2.select(col("lu").as("label"))
      .union(lab2.select(col("lv").as("label")))
      .groupBy("label").agg(count(lit(1)).as("d_sum"))
    val nodes = und.select(col("u").as("vec_id")).union(und.select(col("v").as("vec_id")))
      .distinct().join(labels, "vec_id")
      .groupBy("label").agg(count(lit(1)).as("n_nodes"))
    nodes.join(degSum, Seq("label"), "left")
      .join(within, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("l_within"), lit(0L)).as("l_within"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"))
      .withColumn("contrib_num",
        expr(s"cast(4 as decimal(38,0)) * $m * l_within" +
          s" - cast(d_sum as decimal(38,0)) * d_sum"))
      .withColumn("contrib_ppm",
        expr(s"contrib_num * 1000000 div (cast(4 as decimal(38,0)) * $m * $m)"))
      .select(col("label"), col("n_nodes"), col("l_within"), col("d_sum"),
        col("contrib_num").cast("long").as("contrib_num"), col("contrib_ppm"))
      .localCheckpoint(true)
      .orderBy("label")
    } finally und.unpersist(blocking = false)
  }

  val labelModularitySql: String =
    s"""WITH $edgeCtesMat,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |l2 AS MATERIALIZED (SELECT und.u, und.v, lu.label AS lu, lv.label AS lv
       |       FROM und JOIN lb lu ON lu.vec_id = und.u
       |       JOIN lb lv ON lv.vec_id = und.v),
       |w AS (SELECT lu AS label, CAST(count(*) AS BIGINT) AS l_within
       |      FROM l2 WHERE lu = lv GROUP BY 1),
       |ds AS (SELECT label, CAST(count(*) AS BIGINT) AS d_sum FROM (
       |         SELECT lu AS label FROM l2 UNION ALL SELECT lv FROM l2) GROUP BY 1),
       |nn AS (SELECT lb.label, CAST(count(*) AS BIGINT) AS n_nodes FROM (
       |         SELECT DISTINCT u AS vec_id FROM und
       |         UNION SELECT DISTINCT v FROM und) x
       |       JOIN lb ON lb.vec_id = x.vec_id GROUP BY 1),
       |t AS (SELECT nn.label, nn.n_nodes,
       |        COALESCE(w.l_within, 0) AS l_within,
       |        COALESCE(ds.d_sum, 0) AS d_sum,
       |        4::HUGEINT * mm.m * COALESCE(w.l_within, 0)
       |          - COALESCE(ds.d_sum, 0)::HUGEINT * COALESCE(ds.d_sum, 0) AS cn,
       |        mm.m AS m
       |      FROM nn CROSS JOIN mm
       |      LEFT JOIN ds ON ds.label = nn.label
       |      LEFT JOIN w ON w.label = nn.label)
       |SELECT label, n_nodes, l_within, d_sum,
       |  CAST(cn AS BIGINT) AS contrib_num,
       |  CAST((cn * 1000000) // (4::HUGEINT * m * m) AS BIGINT) AS contrib_ppm
       |FROM t ORDER BY label""".stripMargin

  // ------------------------------------------------------ k-core peel

  /** K-CORE PEELING over the similarity graph (Seidman '83; the
    * coreness ladder a curation pipeline reads to separate densely
    * embedded regions from fringe/outlier shells): repeatedly remove
    * every node whose surviving undirected degree is below k until
    * fixpoint — what survives is the k-core, and the ROUND at which a
    * node is peeled is its shell depth (peel_round 1 = the sparsest
    * fringe, 0 = in-core at fixpoint). Each round is wordcount-shaped
    * (degree aggregate over surviving edges + two semi joins), so a
    * round costs O(|edges|) shuffle at any scale and the number of
    * rounds is the peel depth — on the K-regular-ish kNN graph the
    * cascade resolves in ≤4 rounds (degeneracy ordering at 100 TB
    * would batch shells the same way). The graded query runs T fixed
    * rounds and REQUIRES the fixpoint landed inside them (loud
    * failure, never a silent partial core), so the unrolled SQL twin
    * replays the identical T rounds — all integer, bit-exact. */
  val KCoreK = 11
  val KCoreT = 8

  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreOverEdges(sharedEdges(s, dir))
      .orderBy("vec_id")

  private[graft] def kcoreOverEdges(input: DataFrame): DataFrame =
      withCountedEdges(input) { (rawEdges, nEdges) =>
    val ss = rawEdges.sparkSession
    Mat.withLoopPartitions(ss, nEdges) {
    val und0 = rawEdges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val nodes0 = und0.select(col("u").as("id")).union(und0.select(col("v").as("id")))
      .distinct()
    val deg0 = nodes0.join(
        und0.select(col("u").as("id")).union(und0.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("dg")), Seq("id"), "left")
      .select(col("id"), coalesce(col("dg"), lit(0L)).as("deg0"))
      .localCheckpoint(false)
    var alive = deg0.select("id")
    var edges = und0.select("u", "v")
    var peeled = ss.createDataFrame(ss.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType),
        StructField("peel_round", LongType))))
    var converged = false
    for (t <- 1 to KCoreT if !converged) {
      val dg = edges.select(col("u").as("id")).union(edges.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
      val withDeg = alive.join(dg, Seq("id"), "left")
        .select(col("id"), coalesce(col("dg"), lit(0L)).as("dg"))
        .localCheckpoint(false)
      val peeledRound = withDeg.filter(col("dg") < KCoreK)
        .select(col("id"), lit(t.toLong).as("peel_round"))
        .localCheckpoint(false)
      // fixpoint early-exit: once a round peels nothing, every later
      // round is the identity — the unrolled SQL twin runs them all,
      // but they cannot change anything, so skipping is value-neutral
      // (and saves KCoreT−t corpus-sized rounds at scale)
      if (peeledRound.isEmpty) converged = true
      else {
        peeled = peeled.union(peeledRound)
        alive = withDeg.filter(col("dg") >= KCoreK).select("id")
          .localCheckpoint(false)
        edges = edges
          .join(alive.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
          .join(alive.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
          .localCheckpoint(false)
      }
    }
    // fixpoint guard: one more peel must remove nothing — a silent
    // partial core would grade as if it were the k-core
    val lastDg = edges.select(col("u").as("id")).union(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    val leftover = alive.join(lastDg, Seq("id"), "left")
      .filter(coalesce(col("dg"), lit(0L)) < KCoreK).count()
    require(leftover == 0,
      s"k-core peel did not reach fixpoint in $KCoreT rounds ($leftover nodes still under $KCoreK)")
    deg0.join(peeled, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("deg0"),
        coalesce(col("peel_round"), lit(0L)).as("peel_round"))
      .localCheckpoint(true)
    } finally und0.unpersist(blocking = false)
    }
  }

  val kcoreSql: String = {
    val rounds = (1 to KCoreT).map { t =>
      s"""kdg$t AS (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
         |          SELECT u AS id FROM ks${t - 1} UNION ALL SELECT v FROM ks${t - 1}) GROUP BY 1),
         |kw$t AS MATERIALIZED (SELECT ka${t - 1}.id, COALESCE(kdg$t.dg, 0) AS dg
         |          FROM ka${t - 1} LEFT JOIN kdg$t ON kdg$t.id = ka${t - 1}.id),
         |kp$t AS (SELECT id, ${t}::BIGINT AS peel_round FROM kw$t WHERE dg < $KCoreK),
         |ka$t AS MATERIALIZED (SELECT id FROM kw$t WHERE dg >= $KCoreK),
         |ks$t AS MATERIALIZED (SELECT s.u, s.v FROM ks${t - 1} s
         |          JOIN ka$t x ON x.id = s.u JOIN ka$t y ON y.id = s.v)""".stripMargin
    }.mkString(",\n")
    val peelUnion = (1 to KCoreT).map(t => s"SELECT * FROM kp$t").mkString(" UNION ALL ")
    s"""WITH $edgeCtesMat,
       |ks0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g),
       |ka0 AS MATERIALIZED (SELECT DISTINCT id FROM (
       |        SELECT u AS id FROM ks0 UNION ALL SELECT v FROM ks0)),
       |kd0 AS (SELECT ka0.id, CAST(count(*) AS BIGINT) AS deg0 FROM ka0
       |        JOIN (SELECT u AS id FROM ks0 UNION ALL SELECT v FROM ks0) e
       |          ON e.id = ka0.id GROUP BY 1),
       |$rounds,
       |kpeel AS ($peelUnion)
       |SELECT kd0.id AS vec_id, kd0.deg0, COALESCE(kpeel.peel_round, 0) AS peel_round
       |FROM kd0 LEFT JOIN kpeel ON kpeel.id = kd0.id
       |ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------- label propagation communities

  /** LABEL-PROPAGATION COMMUNITIES over the similarity graph (Raghavan
    * et al. 2007, made deterministic): every node starts in its own
    * community (label = id); each SYNCHRONOUS round it adopts the most
    * frequent label among its undirected neighbors, ties broken toward
    * the SMALLEST label (the deterministic variant — the classic
    * random-order asynchronous sweep is irreproducible by design).
    * T fixed rounds; the graded table is the community assignment
    * after round T. Scale shape: a round is one edge⋈label join (both
    * directions), one (node, label) count, one argmax window —
    * shuffles bounded by 2·|edges|; the argmax partitions by node, so
    * AQE/salting handle degree skew like any aggregation. Communities
    * here are the near-dup/topic blobs label-blocked dedup wants
    * WITHOUT needing the label column — the unsupervised sibling of
    * graph_label_modularity's supervised eval. */
  val LpaT = 4

  def lpa(s: SparkSession, dir: String): DataFrame =
    lpaOverEdges(sharedEdges(s, dir))
      .orderBy("vec_id")

  private[graft] def lpaOverEdges(input: DataFrame,
                                  rounds: Int = LpaT): DataFrame =
      withCountedEdges(input) { (rawEdges, nEdges) =>
    Mat.withLoopPartitions(rawEdges.sparkSession, nEdges) {
    val und = rawEdges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    val adj = und.select(col("u").as("id"), col("v").as("nb"))
      .union(und.select(col("v").as("id"), col("u").as("nb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val nodes = adj.select("id").distinct().localCheckpoint(false)
    var lab = nodes.withColumn("lab", col("id"))
    for (_ <- 1 to rounds) {
      val cnt = adj.join(lab.withColumnRenamed("id", "nb"), "nb")
        .groupBy("id", "lab").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("id")
        .orderBy(col("cnt").desc, col("lab").asc)
      lab = cnt.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).select("id", "lab")
        .localCheckpoint(false)
    }
    lab.select(col("id").as("vec_id"), col("lab").as("comm"))
      .localCheckpoint(true)
    } finally adj.unpersist(blocking = false)
    }
  }

  val lpaSql: String = {
    val rounds = (1 to LpaT).map { t =>
      s"""lc$t AS (SELECT adj.id, ll${t - 1}.lab, CAST(count(*) AS BIGINT) AS cnt
         |         FROM adj JOIN ll${t - 1} ON ll${t - 1}.id = adj.nb GROUP BY 1, 2),
         |ll$t AS MATERIALIZED (SELECT id, lab FROM (
         |         SELECT id, lab, row_number() OVER (PARTITION BY id
         |           ORDER BY cnt DESC, lab ASC) AS rk FROM lc$t) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtesMat,
       |lund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g),
       |adj AS MATERIALIZED (SELECT u AS id, v AS nb FROM lund
       |        UNION ALL SELECT v, u FROM lund),
       |ll0 AS (SELECT DISTINCT id, id AS lab FROM adj),
       |$rounds
       |SELECT id AS vec_id, lab AS comm FROM ll$LpaT ORDER BY vec_id""".stripMargin
  }

  // -------------------------------------------------- BFS seed levels

  /** BFS HOP LEVELS from the seed set over the similarity graph — the
    * "how far is everything from my curated seeds" table (the
    * hop-count companion to graph_ppr's proximity mass; seeds are the
    * engine's query-doc convention vec_id < Seeds): T synchronous
    * relaxation rounds of dist(v) = min(dist(v), 1 + min over
    * undirected neighbors u of dist(u)) — each round one adj⋈dist
    * join + one min aggregate, shuffle bounded by 2·|edges| (the
    * Pregel-as-DataFrame loop); nodes unreached after T rounds carry
    * NULL (T bounds the frontier depth exactly like an iterative
    * cluster job's superstep budget — all integer, the unrolled twin
    * replays every round). */
  val BfsT = 4

  def bfsLevels(s: SparkSession, dir: String): DataFrame =
    bfsOverEdges(sharedEdges(s, dir), Seeds)
      .orderBy("vec_id")

  private[graft] def bfsOverEdges(input: DataFrame, seedsBelow: Long): DataFrame =
      withCountedEdges(input) { (rawEdges, nEdges) =>
    Mat.withLoopPartitions(rawEdges.sparkSession, nEdges) {
    val und = rawEdges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    val adj = und.select(col("u").as("id"), col("v").as("nb"))
      .union(und.select(col("v").as("id"), col("u").as("nb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val nodes = adj.select("id").distinct().localCheckpoint(false)
    var dist = nodes.withColumn("dist",
      when(col("id") < seedsBelow, lit(0L)))
    for (_ <- 1 to BfsT) {
      val relaxed = adj.join(dist.select(col("id").as("nb"), col("dist").as("nd")), "nb")
        .filter(col("nd").isNotNull)
        .groupBy("id").agg(min(col("nd") + 1L).as("via"))
      dist = dist.join(relaxed, Seq("id"), "left")
        .select(col("id"),
          least(col("dist"), col("via")).as("dist"))
        .localCheckpoint(false)
    }
    dist.select(col("id").as("vec_id"), col("dist"))
      .localCheckpoint(true)
    } finally adj.unpersist(blocking = false)
    }
  }

  val bfsLevelsSql: String = {
    val rounds = (1 to BfsT).map { t =>
      s"""bx$t AS (SELECT badj.id, CAST(min(bd${t - 1}.dist + 1) AS BIGINT) AS via
         |         FROM badj JOIN bd${t - 1} ON bd${t - 1}.id = badj.nb
         |         WHERE bd${t - 1}.dist IS NOT NULL GROUP BY 1),
         |bd$t AS MATERIALIZED (SELECT bd${t - 1}.id,
         |         least(bd${t - 1}.dist, bx$t.via) AS dist
         |       FROM bd${t - 1} LEFT JOIN bx$t ON bx$t.id = bd${t - 1}.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtesMat,
       |bund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g),
       |badj AS MATERIALIZED (SELECT u AS id, v AS nb FROM bund
       |        UNION ALL SELECT v, u FROM bund),
       |bd0 AS (SELECT DISTINCT id,
       |          CASE WHEN id < $Seeds THEN 0::BIGINT END AS dist FROM badj),
       |$rounds
       |SELECT id AS vec_id, dist FROM bd$BfsT ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------- link prediction

  /** COMMON-NEIGHBOR LINK PREDICTION over the similarity graph (the
    * Liben-Nowell & Kleinberg '03 baseline): for every NON-adjacent
    * pair sharing at least one neighbor, the common-neighbor count and
    * the neighborhood-Jaccard cn·10⁶ div (d_u + d_v − cn) — the "these
    * two documents should be near-dups but the kNN cut missed the
    * edge" candidates a graph-ANN maintenance pass re-scores. Wedge
    * generation groups on the MIDDLE node (each common neighbor z of
    * (x, y) is enumerated exactly once as the wedge x–z–y with
    * x < y), so the work is Σ deg(z)² — bounded on the K-out-degree
    * kNN graph; on a POWER-LAW graph a hub middle alone is quadratic,
    * so middles with deg > LinkMiddleCap are EXCLUDED from wedge
    * generation (a posting-df-cap-style guard: the cap sits far above
    * the graded kNN graph's K-regular degrees, so graded results are
    * unchanged — Round15Spec pins capped == uncapped there AND pins
    * that a planted super-cap hub generates zero wedge events; the
    * triangles operator's degree orientation does not apply: OPEN
    * wedges at the middle are precisely what is being counted, and a
    * celebrity hub's n² open wedges are prediction noise anyway —
    * Adamic-Adar discounts them 1/log·deg for the same reason).
    * The cap is part of the query's CONTRACT, not an engine shortcut:
    * the twin filters the same super-cap middles out of wedge
    * generation (pmid), so engine and oracle compute one function on
    * EVERY input — including a future data drop with a genuine hub —
    * rather than diverging exactly where the uncapped quadratic twin
    * becomes infeasible to run.
    * Existing edges leave by an anti join on the undirected edge set;
    * top-20 by (cn DESC, u, v) — all integers, bit-exact. */
  val LinkTopN = 20

  /** Per-middle wedge-generation cap: a middle with more neighbors
    * than this never enumerates its wedges (deg² guard at scale; far
    * above any degree the graded K-regular kNN graph produces). */
  val LinkMiddleCap = 4096L

  def linkPredict(s: SparkSession, dir: String): DataFrame =
    linkPredictOverEdges(sharedEdges(s, dir))

  private[graft] def linkPredictOverEdges(rawEdges: DataFrame,
                                          middleCap: Long = LinkMiddleCap): DataFrame = {
    val und = rawEdges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val adj = und.select(col("u").as("id"), col("v").as("nb"))
      .union(und.select(col("v").as("id"), col("u").as("nb")))
    val deg = adj.groupBy("id").agg(count(lit(1)).as("dg"))
    // hub guard: middles above the cap are few by definition (each has
    // > cap neighbors), so the exclusion list broadcasts
    val hotMiddles = deg.filter(col("dg") > middleCap).select("id")
    val adjW = adj.join(broadcast(hotMiddles), Seq("id"), "left_anti")
    val wedges = adjW.alias("a").join(adjW.alias("b"),
        col("a.id") === col("b.id") && col("a.nb") < col("b.nb"))
      .select(col("a.nb").as("u"), col("b.nb").as("v"))
    val cn = wedges.groupBy("u", "v").agg(count(lit(1)).as("cn"))
      .join(und, Seq("u", "v"), "left_anti")
    cn.join(deg.select(col("id").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("dg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        expr("cn * 1000000 div (du + dv - cn)").as("jac_ppm"))
      .orderBy(col("cn").desc, col("u").asc, col("v").asc)
      .limit(LinkTopN)
      .localCheckpoint(true)
    } finally und.unpersist(blocking = false)
  }

  val linkPredictSql: String =
    s"""WITH $edgeCtesMat,
       |pund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g),
       |padj AS MATERIALIZED (SELECT u AS id, v AS nb FROM pund
       |         UNION ALL SELECT v, u FROM pund),
       |pdeg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM padj GROUP BY 1),
       |pmid AS (SELECT id FROM pdeg WHERE dg <= $LinkMiddleCap),
       |pw AS (SELECT a.nb AS u, b.nb AS v FROM padj a JOIN padj b
       |       ON a.id = b.id AND a.nb < b.nb
       |       JOIN pmid ON pmid.id = a.id),
       |pcn AS (SELECT u, v, CAST(count(*) AS BIGINT) AS cn FROM pw GROUP BY 1, 2),
       |pnov AS (SELECT pcn.* FROM pcn LEFT JOIN pund
       |          ON pund.u = pcn.u AND pund.v = pcn.v
       |         WHERE pund.u IS NULL)
       |SELECT pnov.u, pnov.v, pnov.cn,
       |  (pnov.cn * 1000000) // (du.dg + dv.dg - pnov.cn) AS jac_ppm
       |FROM pnov JOIN pdeg du ON du.id = pnov.u JOIN pdeg dv ON dv.id = pnov.v
       |ORDER BY cn DESC, u ASC, v ASC LIMIT $LinkTopN""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_kcore" -> (kcore _),
    "graph_lpa" -> (lpa _),
    "graph_bfs_levels" -> (bfsLevels _),
    "graph_link_predict" -> (linkPredict _),
    "graph_label_modularity" -> (labelModularity _),
    "graph_triangles" -> (triangles _),
    "graph_hits" -> (hits _),
    "graph_pagerank" -> (pagerank _),
    "graph_ppr" -> (pprSeeded _),
    "dedup_canonical_rank" -> (canonicalRank _))

  val oracles: Map[String, String] = Map(
    "graph_kcore" -> kcoreSql,
    "graph_lpa" -> lpaSql,
    "graph_bfs_levels" -> bfsLevelsSql,
    "graph_link_predict" -> linkPredictSql,
    "graph_label_modularity" -> labelModularitySql,
    "graph_triangles" -> trianglesSql,
    "graph_hits" -> hitsSql,
    "graph_pagerank" -> pagerankSql,
    "graph_ppr" -> pprSeededSql,
    "dedup_canonical_rank" -> canonicalRankSql)
}
