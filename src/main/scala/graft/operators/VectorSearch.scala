package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{OracleSql, Tables}

/** Driver-checkable k-NN query surface over the `embeddings` table —
  * the Spark re-expression of the reference's search paths
  * (vector_index.py search/search_batch + search_engine.py filters).
  *
  * Query vectors are the first 10 `vec_id`s (a deterministic batch,
  * mirroring `search_batch`); the corpus is the full table. Each query
  * returns (qid, vec_id, score, rank) with rank 1..k by score desc,
  * vec_id asc. Self-matches are kept (the reference's tests assert the
  * query finds itself, tests/test_vector_index.py:36-40).
  */
object VectorSearch {
  val K = 10
  val NQueries = 10

  private def corpusAndQueries(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.load(s, dir, "embeddings")
    (emb, emb.filter(col("vec_id") < NQueries))
  }

  def knn(metric: Knn.Metric)(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = corpusAndQueries(s, dir)
    Knn.topK(corpus, queries, K, metric)
  }

  /** Metadata-filtered search: predicate pushed into the corpus scan
    * (cheaper than the reference's k·10 overfetch + post-filter). */
  def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = corpusAndQueries(s, dir)
    Knn.topK(corpus.filter(col("label") < 5), queries, K, Knn.Cosine)
  }

  /** Exact k-NN GRAPH: every vector's top-k non-self neighbors — the
    * adjacency builder behind embedding-dedup clustering, diversity
    * sampling, and graph-ANN construction in a training pipeline.
    * Queries = the whole corpus: the operator broadcasts queries in
    * bounded chunks (Knn.MaxBroadcastQueries), one corpus scan per
    * chunk, heaps never exceed chunk·k entries — O(n²) work spread
    * embarrassingly parallel, zero pairwise shuffle.
    * EXACT-REFERENCE PATH: total compute is quadratic no matter how
    * well it parallelizes. Do NOT build a 100 TB graph here —
    * nn_descent_graph bounds work at n·k·degree per round and is the
    * scale path; this operator is its exactness twin. */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    Knn.topK(emb, emb, K + 1, Knn.Cosine)
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rank") <= K)
      .select("qid", "vec_id", "score", "rank")
      .orderBy("qid", "rank")
  }

  /** The kNN graph, built once per `embeddings` content and Spark
    * application (graft.Catalog) — the build GraphRank.sharedEdges
    * projects, carrying the full (qid, vec_id, score, rank) rows so
    * the graded knn_graph query and every graph operator serve from
    * ONE O(n²) scoring job per corpus, with a PINNED payer (whichever
    * key touches the graph family first in a pass) instead of each
    * graph key's bench time depending on registry order. At 100 TB this is the one-job
    * layout build the NSW/postings layouts already model; the exact
    * quadratic twin is never the production builder anyway
    * (nn_descent_graph / knn_graph_pruned are the scale paths). */
  private[graft] def knnGraphShared(s: SparkSession, dir: String): DataFrame =
    graft.Catalog.getOrBuild("knn.graph", s, dir, Seq("embeddings")) {
      knnGraph(s, dir).localCheckpoint(true)
    }

  val knnGraphSql: String =
    s"""WITH nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |            FROM embeddings),
       |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, n.nm AS qn
       |      FROM embeddings e JOIN nrm n ON e.vec_id = n.vec_id),
       |s AS (SELECT q.qid, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q CROSS JOIN embeddings e JOIN nrm n ON e.vec_id = n.vec_id
       |      WHERE e.vec_id <> q.qid)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  /** EXACT kNN graph with IVF triangle-inequality pruning — the
    * lossless scale path for the quadratic-by-contract knn_graph (the
    * k-means-cell analogue of the prefix-filtered Jaccard join: the
    * graded twin IS the brute-force oracle, so losslessness sits on
    * the gate, not in a comment).
    *
    * Geometry: on unit-sphere copies (x̂ = x/‖x‖), cosine is monotone
    * in L2 (cos = 1 − ‖q̂−x̂‖²/2), so cosine ranking is L2 ranking in
    * normalized space and the triangle inequality applies: any member
    * x̂ of cell j satisfies ‖q̂−x̂‖ ≥ ‖q̂−c_j‖ − r_j (r_j = the cell's
    * member radius). Pass 1 scans each point's nprobe nearest cells
    * for a kth-best upper bound; pass 2 keeps only cells whose lower
    * bound clears that ub (with an absolute slack that dominates every
    * normalization/rounding discrepancy, so pruning is conservative —
    * a pruned cell is out by ≥ slack, never by an ulp), then reranks
    * candidates with the SAME cosine kernel and tie order as the
    * brute-force operator. The true top-k always survives: the cell of
    * the true kth neighbor has lower bound ≤ its distance ≤ ub.
    *
    * Scale shape: shuffles are (point → cell) postings joins bounded
    * by the probe/bound fan-out, plus an n×nlist broadcast cross for
    * the bounds — never an n² pair scan. Pruning power tracks how
    * clustered the corpus is (real embedding spaces are; uniform
    * random high-d is the known worst case — spec'd on a clustered
    * corpus). */
  val PrunedNlist = 16
  val PrunedProbe = 4
  val PrunedSlack = 1e-6

  /** Candidate (qid, vid, score) pairs after pruning — exposed so the
    * spec can assert the scan bound; the graded query ranks these. */
  private[graft] def prunedCandidates(emb0raw: DataFrame, k: Int,
      nlist: Int = PrunedNlist, nprobe: Int = PrunedProbe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.VectorOps
    val sh = org.apache.spark.sql.graftshim.Shims
    val spark = emb0raw.sparkSession
    import spark.implicits._
    val emb0 = emb0raw.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("emb"))
    val nemb = emb0
      .withColumn("nrm", sqrt(VectorOps.dot(col("emb"), col("emb"))))
      .withColumn("ne", expr("transform(emb, x -> x / nrm)"))
      .select(col("vec_id"), col("emb"), col("ne"))
    val sample = nemb.orderBy("vec_id").limit(2048)
      .select("ne").collect().map(_.getSeq[Double](0).toArray)
    val cents = IvfIndex.trainCentroids(sample, nlist, iters = 5)
    val assigned = nemb
      .withColumn("cell", sh.column(NearestCentroidExpr(sh.expression(col("ne")), cents)))
      .withColumn("cdist", sqrt(sh.column(Curation.MinDistExpr(sh.expression(col("ne")), cents))))
      // eager localCheckpoint, not persist: the candidates stay lazy
      // (materializing the pair set is the cost this path avoids), and
      // a checkpoint registers nothing in the cache manager — its
      // blocks go when the returned plan does
      .localCheckpoint(true)
    val members = assigned.select(col("cell").as("mcell"),
      col("vec_id").as("vid"), col("emb").as("memb"))
    // pass 1: kth-best upper bound from the nprobe nearest cells — a
    // BOUNDED top-k aggregate (map-side ≤k partials, merged
    // associatively), so only k rows per point ever shuffle; a window
    // rank here would shuffle every scored candidate
    val probes = assigned.select(col("vec_id").as("qid"), col("emb").as("qemb"),
      explode(sh.column(NearestCentroidsExpr(sh.expression(col("ne")), cents, nprobe))).as("mcell"))
    // NARROW the agg input to (qid, vid, score) 24-byte rows before
    // grouping: with >128 groups ObjectHashAggregate falls back to
    // sort-based aggregation, and that external sort must never carry
    // the 512-byte embedding payloads (measured: the wide form spilled
    // the full scored-pair volume to disk; the narrow form is a cheap
    // partition-local run sort)
    // ... and REPARTITION the narrow rows by qid before grouping: the
    // scored-pair stream comes off the cell join clustered by CELL, so
    // without this the partial aggregate's fallback sort would run on
    // a handful of cell-shaped tasks over the whole pair volume; after
    // the qid exchange every task sorts only its own bounded slice and
    // holds only its own groups (the per-task-state bound that makes
    // the shape safe at any corpus size)
    val ub = probes.join(members, "mcell").filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        VectorOps.cosineSim(col("qemb"), col("memb")).as("score"))
      .repartition(col("qid"))
      .groupBy("qid")
      .agg(graft.functions.TopKAggOps.topKByScore(col("score"), col("vid"), k).as("arr"))
      .filter(size(col("arr")) === k)
      .withColumn("kth", expr(s"element_at(arr, $k).score"))
      .select(col("qid"),
        (sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("kth"))) + lit(PrunedSlack)).as("ub"))
    // pass 2: cells clearing the bound (≤ keeps boundary ties; a
    // missing ub row — under-filled probe — means scan everything)
    val radii = assigned.groupBy("cell").agg(max("cdist"))
      .as[(Int, Double)].collect().toMap
    val cellsDf = cents.indices
      .map(j => (j, radii.getOrElse(j, 0.0), cents(j).toSeq))
      .toDF("mcell", "r", "cvec")
    val qual = assigned.select(col("vec_id").as("qid"), col("emb").as("qemb"), col("ne").as("qne"))
      .join(ub, Seq("qid"), "left")
      .crossJoin(broadcast(cellsDf))
      .withColumn("dcell", sqrt(VectorOps.l2Sq(col("qne"), col("cvec"))))
      .filter(col("ub").isNull || (col("dcell") - col("r") <= col("ub")))
      .select(col("qid"), col("qemb"), col("mcell"))
    qual.join(members, "mcell").filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        VectorOps.cosineSim(col("qemb"), col("memb")).as("score"))
  }

  def knnGraphPruned(s: SparkSession, dir: String): DataFrame =
    // final rank through the same bounded aggregate: the rank-ordered
    // (score desc, vid asc) array IS the row_number order, so rank =
    // position — and only k rows per point leave the candidate join
    prunedCandidates(Tables.load(s, dir, "embeddings"), K)
      .repartition(col("qid"))
      .groupBy("qid")
      .agg(graft.functions.TopKAggOps.topKByScore(col("score"), col("vid"), K).as("arr"))
      .select(col("qid"), posexplode(col("arr")))
      .select(col("qid"), col("col.vid").as("vec_id"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("qid", "rank")

  /** Matryoshka search: truncate to the 16-dim prefix (then cosine,
    * which self-normalizes — equivalent to the reference's truncate +
    * L2-renorm, projection.py MatryoshkaProjection). */
  val MatryoshkaDim = 16
  def knnMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val sliced = emb.select(col("vec_id"), slice(col("embedding"), 1, MatryoshkaDim).as("embedding"))
    Knn.topK(sliced, sliced.filter(col("vec_id") < NQueries), K, Knn.Cosine)
  }

  /** FP16-compressed corpus + query, then cosine search
    * (vector_index.py:87-97 storage compression) — oracle-checked
    * (knnFp16Sql rebuilds the IEEE half round-trip in exact double
    * arithmetic); recall vs exact is spec'd in ScalaTest. */
  def knnFp16(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), VectorOps.fp16(col("embedding")).as("embedding"))
    Knn.topK(emb, emb.filter(col("vec_id") < NQueries), K, Knn.Cosine)
  }

  /** INT8-quantized corpus search (base_embedder.py INT8 tier; 4×
    * compression) — oracle-checked (knnInt8Sql rebuilds the float32
    * dequantization in SQL); recall spec'd in VectorExprsSpec. */
  def knnInt8(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), VectorOps.int8(col("embedding")).as("embedding"))
    Knn.topK(emb, emb.filter(col("vec_id") < NQueries), K, Knn.Cosine)
  }

  /** Cross-modal engine surface: one corpus spanning modalities with a
    * content_type column, query restricted to one modality
    * (search_engine.py:174-223 filter_content_type). Modality is a
    * deterministic derivation of `label` (the testdata carries no real
    * multimodal payloads; the binary-column plumbing lives in
    * graft.multimodal). */
  def crossmodal(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings").withColumn("content_type",
      element_at(array(lit("text"), lit("image"), lit("video"), lit("audio")),
        (col("label") % 4 + 1).cast("int")))
    val queries = emb.filter(col("vec_id") < NQueries)
    Knn.topK(emb.filter(col("content_type") === "image"), queries, K, Knn.Cosine)
  }

  /** Dual-embedding-space routing (reference README "Dual-Encoder
    * Strategy": CLIP and CLAP vectors share one store but their
    * similarities are NOT comparable — a query scores only against its
    * own space). Space is a deterministic label derivation here; each
    * query's scan is restricted to its space BEFORE scoring, so
    * cross-space pairs are never computed, let alone compared. */
  def dualspaceSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
      .withColumn("space", (col("label") % 2).cast("int"))
    val q = emb.filter(col("vec_id") < NQueries)
    Seq(0, 1).map { sp =>
      Knn.topK(emb.filter(col("space") === sp), q.filter(col("space") === sp), K, Knn.Cosine)
        .withColumn("space", lit(sp))
    }.reduce(_ union _)
      .select("qid", "space", "vec_id", "score", "rank")
      .orderBy("qid", "rank")
  }

  val dualspaceSearchSql: String =
    s"""WITH nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |            FROM embeddings),
       |q AS (SELECT e.vec_id AS qid, CAST(e.label % 2 AS INT) AS space,
       |             e.embedding AS qv, n.nm AS qn
       |      FROM embeddings e JOIN nrm n ON e.vec_id = n.vec_id
       |      WHERE e.vec_id < $NQueries),
       |s AS (SELECT q.qid, q.space, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q CROSS JOIN embeddings e JOIN nrm n ON e.vec_id = n.vec_id
       |      WHERE CAST(e.label % 2 AS INT) = q.space)
       |SELECT qid, space, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  /** Index stats per modality (vector_index.py:279-291 get_stats). */
  def indexStats(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings").withColumn("content_type",
      element_at(array(lit("text"), lit("image"), lit("video"), lit("audio")),
        (col("label") % 4 + 1).cast("int")))
    emb.groupBy("content_type")
      .agg(count(lit(1)).as("total_vectors"),
        max(size(col("embedding"))).as("dimension"))
      .withColumn("compression_ratio", lit(2.0)) // FP16 storage (reference: 2×)
      .orderBy("content_type")
  }

  /** Soft-delete then search (reference: vector_index.py:212-222
    * remove_vectors marks metadata deleted; search results exclude
    * them). Deleted set here: vec_id ≡ 0 (mod 7). */
  def indexDelete(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val live = emb.filter(col("vec_id") % 7 =!= 0)
    Knn.topK(live, emb.filter(col("vec_id") < NQueries), K, Knn.Cosine)
  }

  /** Matryoshka dimension tradeoff (reference: scripts/demo_matryoshka
    * .py, projection.py nested dims): for each truncation dim, overlap
    * of truncated top-K with the full-dim top-K per query. hits is an
    * integer; recall = hits/K is one exact division. */
  val MatryoshkaDims = Seq(64, 32, 16, 8)
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val parts = MatryoshkaDims.map { d =>
      val sliced = emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
      Knn.topK(sliced, sliced.filter(col("vec_id") < NQueries), K, Knn.Cosine)
        .select(lit(d).as("dim"), col("qid"), col("vec_id"))
    }
    val full = parts.head.select(col("qid").as("fqid"), col("vec_id").as("fvid"))
    parts.map { p =>
      p.join(full, col("qid") === col("fqid") && col("vec_id") === col("fvid"))
        .groupBy("dim", "qid")
        .agg(count(lit(1)).as("hits"))
    }.reduce(_.unionAll(_))
      .withColumn("recall", col("hits").cast("double") / lit(10.0))
      .orderBy("dim", "qid")
  }

  // ---------------------------------------------------------------- oracles

  /** Cosine kNN oracle with norms factored into CTEs: one 64-term dot
    * per (q,e) pair instead of three — mirrors the Scala loop (which
    * also precomputes ‖e‖ per row and ‖q‖ per query) and keeps the
    * DuckDB expression tree small. */
  private def knnCosineSqlWhere(corpusWhere: String): String =
    s"""WITH nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |            FROM embeddings),
       |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, n.nm AS qn
       |      FROM embeddings e JOIN nrm n ON e.vec_id = n.vec_id WHERE e.vec_id < $NQueries),
       |s AS (SELECT q.qid, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q CROSS JOIN embeddings e JOIN nrm n ON e.vec_id = n.vec_id
       |      WHERE $corpusWhere)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  private def knnSql(scoreExpr: (String, String) => String,
                     corpusWhere: String = "TRUE"): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
       |s AS (SELECT q.qid, e.vec_id, ${scoreExpr("q.qv", "e.embedding")} AS score
       |      FROM q CROSS JOIN embeddings e WHERE $corpusWhere)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  val knnCosineSql: String = knnCosineSqlWhere("TRUE")

  /** FP16 oracle: float→half→float round-trip rebuilt in EXACT double
    * arithmetic. Every step is IEEE-exact: 2^k built by integer shift
    * (never pow()), division/multiplication by powers of two, and
    * round-to-nearest-even emulated with floor/frac comparisons on the
    * exactly-representable q = a·2^(10−e). floor(log2(a)) is the only
    * inexact call and is self-corrected by comparing against exact
    * 2^e0±1. Subnormal halves (a < 2^-14) quantize on the fixed 2^-24
    * grid (underflow to 0 falls out of RTNE), and the r=2048 mantissa
    * rollover lands on 2^(e+1) automatically — with the e=15 rollover
    * and e≥16 overflowing to ±Inf exactly like Fp16.floatToHalf. */
  val knnFp16Sql: String = {
    def p2(k: String) =
      s"(CASE WHEN ($k) >= 0 THEN ((1::UBIGINT << ($k))::DOUBLE) ELSE 1.0e0/((1::UBIGINT << (-($k)))::DOUBLE) END)"
    val e0 = "CAST(floor(log2(a)) AS INT)"
    val smallestNormal = "6.103515625e-5" // 2^-14
    s"""WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |             unnest(range(1, len(embedding)+1)) AS i
       |           FROM embeddings),
       |t1 AS (SELECT vec_id, i, x, abs(x) AS a,
       |        CASE WHEN x < 0 THEN -1.0e0 ELSE 1.0e0 END AS sg FROM el),
       |t2 AS (SELECT *, CASE WHEN a >= $smallestNormal THEN
       |         (CASE WHEN ${p2(s"$e0+1")} <= a THEN $e0+1
       |               WHEN ${p2(e0)} > a THEN $e0-1
       |               ELSE $e0 END)
       |       ELSE 0 END AS e FROM t1),
       |t3 AS (SELECT *, CASE WHEN a = 0 THEN 0.0e0
       |                      WHEN a < $smallestNormal THEN a * 16777216.0e0
       |                      ELSE (a / ${p2("e")}) * 1024.0e0 END AS q FROM t2),
       |t4 AS (SELECT *, CAST(floor(q) AS BIGINT) AS f FROM t3),
       |t5 AS (SELECT *, CASE WHEN q - f > 0.5e0 THEN f + 1
       |                      WHEN q - f < 0.5e0 THEN f
       |                      ELSE f + (f % 2) END AS r FROM t4),
       |t6 AS (SELECT vec_id, i, CASE WHEN a = 0 THEN x
       |         WHEN e >= 16 OR (e = 15 AND r = 2048) THEN sg * 'Infinity'::DOUBLE
       |         WHEN a < $smallestNormal THEN sg * (CAST(r AS DOUBLE) / 16777216.0e0)
       |         ELSE sg * (CAST(r AS DOUBLE) * ${p2("e - 10")}) END AS y FROM t5),
       |fp AS MATERIALIZED (SELECT vec_id, list(y ORDER BY i) AS embedding
       |                    FROM t6 GROUP BY vec_id),
       |nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |        FROM fp),
       |q AS (SELECT d.vec_id AS qid, d.embedding AS qv, n.nm AS qn
       |      FROM fp d JOIN nrm n ON d.vec_id = n.vec_id WHERE d.vec_id < $NQueries),
       |s AS (SELECT q.qid, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q CROSS JOIN fp e JOIN nrm n ON e.vec_id = n.vec_id)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** INT8 oracle: dequantized corpus rebuilt in SQL. All quantization
    * arithmetic is float32 on both sides — DuckDB REAL ops mirror the
    * JVM float chain bit-exactly (verified: REAL sub/div/mul/add stay
    * REAL), and the engine uses floor(v + 0.5f) rather than
    * Math.round so the SQL floor((x-mn)/sc + 0.5) is identical by
    * construction. Scoring then runs the standard double cosine. */
  val knnInt8Sql: String =
    s"""WITH mm AS (SELECT vec_id, embedding AS e0,
       |    list_aggregate(embedding, 'min') AS mn,
       |    list_aggregate(embedding, 'max') AS mx
       |  FROM embeddings),
       |dq AS (SELECT vec_id,
       |    CASE WHEN mx = mn THEN list_transform(e0, x -> mn)
       |    ELSE list_transform(e0, x ->
       |      mn + (CAST(floor((x - mn) / ((mx - mn) / 255.0e0::REAL) + 0.5e0::REAL) AS INT)::REAL
       |            * ((mx - mn) / 255.0e0::REAL)))
       |    END AS embedding
       |  FROM mm),
       |nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |        FROM dq),
       |q AS (SELECT d.vec_id AS qid, d.embedding AS qv, n.nm AS qn
       |      FROM dq d JOIN nrm n ON d.vec_id = n.vec_id WHERE d.vec_id < $NQueries),
       |s AS (SELECT q.qid, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q CROSS JOIN dq e JOIN nrm n ON e.vec_id = n.vec_id)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  val knnL2Sql: String = knnSql((a, b) => s"(1.0/(1.0 + ${OracleSql.l2sq(a, b)}))")
  val knnIpSql: String = knnSql((a, b) => OracleSql.dot(a, b))
  val knnFilteredSql: String = knnCosineSqlWhere("e.label < 5")

  val knnMatryoshkaSql: String = {
    val d = MatryoshkaDim
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
       |s AS (SELECT q.qid, e.vec_id, ${OracleSql.cosine("q.qv", "e.embedding", d)} AS score
       |      FROM q CROSS JOIN embeddings e)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  val crossmodalSql: String =
    s"""WITH m AS (SELECT *, (['text','image','video','audio'])[CAST(label % 4 AS INT) + 1] AS content_type
       |           FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm FROM embeddings),
       |q AS (SELECT m.vec_id AS qid, m.embedding AS qv, n.nm AS qn
       |      FROM m JOIN nrm n ON m.vec_id = n.vec_id WHERE m.vec_id < $NQueries),
       |s AS (SELECT q.qid, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q CROSS JOIN m e JOIN nrm n ON e.vec_id = n.vec_id
       |      WHERE e.content_type = 'image')
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  val matryoshkaRecallSql: String = {
    def knnCte(d: Int): String =
      s"""nrm$d AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding", d)}) AS nm
         |          FROM embeddings),
         |s$d AS (SELECT q.qid, e.vec_id, row_number() OVER (
         |   PARTITION BY q.qid
         |   ORDER BY ${OracleSql.dot("q.qv", "e.embedding", d)} / (n.nm * qn.nm) DESC,
         |            e.vec_id ASC) AS rnk
         | FROM q CROSS JOIN embeddings e
         |   JOIN nrm$d n ON e.vec_id = n.vec_id
         |   JOIN nrm$d qn ON q.qid = qn.vec_id)""".stripMargin
    val ctes = MatryoshkaDims.map(knnCte).mkString(",\n")
    val unions = MatryoshkaDims.map { d =>
      s"""SELECT $d AS dim, a.qid, CAST(count(*) AS BIGINT) AS hits
         |FROM (SELECT * FROM s$d WHERE rnk <= $K) a
         |JOIN (SELECT * FROM s64 WHERE rnk <= $K) b
         |  ON a.qid = b.qid AND a.vec_id = b.vec_id
         |GROUP BY a.qid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
       |$ctes
       |SELECT dim, qid, hits, CAST(hits AS DOUBLE)/10.0 AS recall FROM (
       |$unions
       |) ORDER BY dim, qid""".stripMargin
  }

  /** Radius threshold for range_search (exactly-representable). */
  val RangeTau = 0.25

  /** Range (radius) search: ALL neighbors with cosine ≥ τ per query —
    * the thresholded query shape behind embedding-dedup candidate
    * generation and near-match retrieval, where top-k is the wrong
    * contract (a query may have 0 or 10 000 true matches). Exact scan:
    * queries broadcast, ONE corpus pass, the codegen CosineSimD filter
    * runs inside the scan stage — no pair materialization, no shuffle;
    * output size is the true match set. At 100 TB the same operator
    * runs behind IVF routing (probe buckets whose centroid cap admits
    * τ) or LSH buckets (dedup_minhash_lsh's shape) — the exact pass
    * here is also the verifier those candidate generators are graded
    * against. */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = corpusAndQueries(s, dir)
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qv")))
    corpus.crossJoin(q)
      .withColumn("score", graft.functions.VectorOps.cosineSim(col("qv"), col("embedding")))
      .filter(col("score") >= RangeTau)
      .select(col("qid"), col("vec_id"), col("score"))
      .orderBy("qid", "vec_id")
  }

  val rangeSearchSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQueries)
       |SELECT q.qid, e.vec_id, ${OracleSql.cosine("q.qv", "e.embedding")} AS score
       |FROM q CROSS JOIN embeddings e
       |WHERE ${OracleSql.cosine("q.qv", "e.embedding")} >= ${OracleSql.dlit(RangeTau)}
       |ORDER BY qid, vec_id""".stripMargin

  val indexStatsSql: String =
    """SELECT content_type, CAST(count(*) AS BIGINT) AS total_vectors,
      | CAST(max(len(embedding)) AS INT) AS dimension, 2.0 AS compression_ratio
      |FROM (SELECT *, (['text','image','video','audio'])[CAST(label % 4 AS INT) + 1] AS content_type
      |      FROM embeddings)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_cosine" -> knn(Knn.Cosine) _,
    "knn_l2" -> knn(Knn.L2) _,
    "knn_ip" -> knn(Knn.Ip) _,
    "knn_filtered" -> (knnFiltered _),
    "knn_graph" -> (knnGraphShared _),
    "knn_graph_pruned" -> (knnGraphPruned _),
    "dualspace_search" -> (dualspaceSearch _),
    "knn_matryoshka" -> (knnMatryoshka _),
    "knn_fp16" -> (knnFp16 _),
    "knn_int8" -> (knnInt8 _),
    "crossmodal_search" -> (crossmodal _),
    "matryoshka_recall" -> (matryoshkaRecall _),
    "index_delete" -> (indexDelete _),
    "index_stats" -> (indexStats _),
    "range_search" -> (rangeSearch _))

  val oracles: Map[String, String] = Map(
    "matryoshka_recall" -> matryoshkaRecallSql,
    "index_delete" -> knnSql((a, b) => OracleSql.cosine(a, b), corpusWhere = "e.vec_id % 7 <> 0"),
    "knn_cosine" -> knnCosineSql,
    "knn_l2" -> knnL2Sql,
    "knn_ip" -> knnIpSql,
    "knn_int8" -> knnInt8Sql,
    "knn_fp16" -> knnFp16Sql,
    "knn_filtered" -> knnFilteredSql,
    "knn_graph" -> knnGraphSql,
    "knn_graph_pruned" -> knnGraphSql,
    "dualspace_search" -> dualspaceSearchSql,
    "knn_matryoshka" -> knnMatryoshkaSql,
    "crossmodal_search" -> crossmodalSql,
    "index_stats" -> indexStatsSql,
    "range_search" -> rangeSearchSql)
}
