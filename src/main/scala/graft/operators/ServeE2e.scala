package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.Tables

/** The composed SERVING stack as ONE graded dataflow — the query-time
  * sibling of pipeline_e2e. Every component is an individually-graded
  * operator; what this key grades is the path a deployment actually
  * runs per request, over AT-REST indexes built once:
  *
  *   sparse: BM25 top-20 off the persisted postings layout (the
  *           corpus text is never re-tokenized — no documents scan
  *           anywhere in the serve plan)
  *   dense:  1-bit coded IVF top-20 off the centroid-partitioned
  *           coded layout (explicit `centroid IN` PartitionFilters;
  *           the candidate stage reads ONLY (vec_id, code) — the
  *           float column stays un-decoded until the q·R rerank)
  *   fuse:   reciprocal-rank fusion of the two lists (hybrid_rrf's
  *           exact arithmetic, shared fuseRrf)
  *   rerank: MMR diversity greedy at λ=0.7 over the fused pool
  *           (mmr_combined's loop, rel = rrf), with the candidate
  *           vectors fetched by a BOUNDED point-read from the
  *           vec_id-keyed embedding layout — never a corpus scan
  *
  * Request anatomy (two stages, both bounded; 7 Spark jobs per
  * request under AQE, where every exchange and broadcast is a job of
  * its own — ServeE2eSpec pins the budget). What the request itself
  * carries — its probes, query vectors, terms and, in stage 2, its
  * fused rows — joins as a plan literal (Mat.joinLocal), not as a
  * broadcast, so it costs no job (ServeE2eSpec pins that no
  * BroadcastExchange sits over a local relation in either stage).
  * Neither does the BM25 index state: each postings row carries its
  * doc's dl and its word's df, and the corpus totals were read once at
  * start-up (OpenIndexes.totals) and ride as literals, so no request
  * reads the df, dl or tot tables (ServeE2eSpec pins that too):
  *   stage 1 — retrieval: sparse + dense + fusion compose as one lazy
  *     plan (zero jobs at build, ServeE2eSpec) whose materialization
  *     yields the ≤ |q|·K fused list at the driver (the "request
  *     carries its data" contract — same as probe routing). 6 jobs:
  *     four exchanges, all over inputs that grow with the corpus —
  *     BM25's (qid, doc_id) score aggregate, its per-qid top-N cut, the
  *     dense per-qid asym top-R cut and score top-N cut — one broadcast
  *     (the dense survivors) and the result. The single-partition
  *     boundary sits only AFTER the
  *     per-qid top-N cuts: fusion coalesces its two rank lists
  *     (|q|·N-bounded) to one partition, so its aggregate, rank window
  *     and sort add no exchange, and no range sort runs anywhere in
  *     the plan.
  *   stage 2 — diversity: the fused ids push into the id-sorted
  *     embedding layout as `vec_id IN (…)` (parquet row-group min/max
  *     stats prune to O(|ids|) row groups — a point-read, not a table
  *     scan), and the MMR greedy runs over the fetched pool. 1 job, the
  *     result: the fused rows are a literal, and the ≤ |q|·K fetched
  *     rows sit on one partition, so the per-qid grouping and the
  *     final sort need no exchange.
  *
  * 100 TB shape: a request batch touches O(|query terms|) postings
  * row groups, nprobe/nlist code partitions, and O(|q|·K) embedding
  * row groups; everything after the candidate scans is top-K-sized.
  * serve_e2e_online is the same stack with the REAL request contract
  * on the sparse tier: terms arrive with the request and push into
  * the word-sorted postings as `word IN (…)`. Reference:
  * search_engine.py:174-223 serves dense-only from its built index
  * and fetches result payloads BY ID from its store — the bounded
  * stage-2 fetch re-expresses exactly that point-read.
  */
object ServeE2e {

  /** Point-read layout tuning: small-ish row groups trade a little
    * scan throughput for fetch selectivity — a bounded `vec_id IN`
    * request reads O(|ids|) row groups instead of the table. */
  val PointReadFiles = 8
  val PointReadRowGroupBytes: Int = 512 * 1024

  /** Serve start-up session tuning: Spark collapses a pushed `IN` with
    * more than inFilterThreshold values to a [min,max] range filter,
    * which prunes NOTHING for ids/terms scattered across a sorted
    * layout; every engine IN-list is request-bounded (≤ |q|·K ids,
    * ≤ request vocabulary words), so exact-set pushdown — which parquet
    * evaluates against row-group stats and dictionaries — always wins.
    *
    * `need` is the size of the request's actual IN list: a bigger
    * request batch (more queries, deeper K, larger vocabulary) must
    * never silently degrade its point-read to a [min,max] range scan
    * because a fixed threshold stopped fitting, so every serve-path
    * IN site passes its list size and the threshold RAISES to fit —
    * monotonically (concurrent serves only ever widen it; the list is
    * request-bounded, so predicate-eval cost stays O(|request|)).
    * The read-modify-write is locked: two concurrent serves racing the
    * check-then-set could otherwise let the NARROWER request clobber
    * the wider one's just-raised threshold, silently collapsing the
    * wide request's pushed IN to a range filter. */
  private val tuneLock = new Object
  private[graft] def tunePointRead(s: SparkSession, need: Int = 0): Unit =
    tuneLock.synchronized {
      val key = "spark.sql.parquet.pushdown.inFilterThreshold"
      val want = math.max(1000, need + 1)
      val cur = s.conf.getOption(key).map(_.toInt).getOrElse(0)
      if (want > cur) s.conf.set(key, want.toString)
    }

  /** The coded dense layout + its frozen centroid codebook — the
    * dense sibling of Bm25.layoutFor, built once per `embeddings`
    * content and Spark application (graft.Catalog). The codebook is
    * the shared corpus codebook (IvfIndex.centroidsFor), so the
    * layout build never trains twice. */
  private[graft] def denseLayoutFor(s: SparkSession, dir: String)
      : (String, Array[Array[Double]]) =
    graft.Catalog.getOrBuild("serve.dense_layout", s, dir, Seq("embeddings")) {
      val centroids = IvfIndex.centroidsFor(s, dir, BinaryQuant.IvfNlist)
      val dst = graft.Mat.hadoopScratchDir(s, "serve_ivf")
      BinaryQuant.writeCodedLayout(Tables.load(s, dir, "embeddings"), centroids, dst)
      (dst, centroids)
    }

  /** The vec_id-keyed POINT-READ embedding layout, built once per
    * `embeddings` content and Spark application (graft.Catalog):
    * range-partitioned and sorted by vec_id with small parquet row
    * groups, so every row group carries a tight vec_id min/max and a
    * bounded `vec_id IN (…)` fetch prunes to O(|ids|) row groups
    * before any IO. This is the serving store the MMR candidate fetch
    * reads — the at-rest form of search_engine.py's
    * fetch-payload-by-id. */
  private[graft] def embByIdFor(s: SparkSession, dir: String): String =
    graft.Catalog.getOrBuild("serve.emb_by_id", s, dir, Seq("embeddings")) {
      val dst = graft.Mat.hadoopScratchDir(s, "serve_emb_by_id")
      writeEmbByIdLayout(Tables.load(s, dir, "embeddings"), dst)
      dst
    }

  def writeEmbByIdLayout(emb: DataFrame, dst: String,
      rowGroupBytes: Int = PointReadRowGroupBytes): Unit =
    emb.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      .repartitionByRange(PointReadFiles, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .write
      .option("parquet.block.size", rowGroupBytes.toString)
      .option("parquet.page.size", (64 * 1024).toString)
      .mode("overwrite").parquet(dst)

  /** The opened at-rest layout tables — serve START-UP state. Opening
    * a parquet layout reads footers/listings (driver jobs); a serving
    * process does that once when it loads the index, never per
    * request, so the request-path contract (zero jobs at plan build,
    * ServeE2eSpec) is stated over these handles. `totals` is the BM25
    * corpus totals, collected from `tot` here, once: requests score
    * the self-contained postings rows of `tf` against these two
    * literals (Bm25.scoreInRow). `dl`, `dfT` and `tot` stay open for
    * the general Bm25.scoreAndRank feeder. */
  private[graft] case class OpenIndexes(tf: DataFrame, dl: DataFrame,
      dfT: DataFrame, tot: DataFrame, coded: DataFrame, embById: DataFrame,
      totals: Bm25.Totals)

  private[graft] def openIndexes(s: SparkSession, sparseIdx: String,
      denseIdx: String, embByIdDir: String): OpenIndexes = {
    val tot = s.read.parquet(s"$sparseIdx/tot")
    OpenIndexes(
      s.read.parquet(s"$sparseIdx/tf"),
      s.read.parquet(s"$sparseIdx/dl"),
      s.read.parquet(s"$sparseIdx/df"),
      tot,
      s.read.parquet(denseIdx),
      s.read.parquet(embByIdDir),
      Bm25.totalsOf(tot))
  }

  /** Serve start-up (build-once layouts, opened handles, session
    * tuning) + one request batch's probe routing (IvfIndex.route: the
    * probes and the query vectors come back as local relations, so they
    * join the request plan as literals) — everything BEFORE the
    * request-path contract applies. A real request ARRIVES with its
    * vectors; here they are the graded query rows. */
  private[graft] def warmAndRoute(s: SparkSession, dir: String)
      : (OpenIndexes, Seq[(Long, Int)], DataFrame, Array[Array[Double]]) = {
    tunePointRead(s)
    val sparseIdx = Bm25.layoutFor(s, dir)
    val (denseIdx, centroids) = denseLayoutFor(s, dir)
    val embById = embByIdFor(s, dir)
    val idx = openIndexes(s, sparseIdx, denseIdx, embById)
    val emb = Tables.load(s, dir, "embeddings")
    val (probes, qv) = IvfIndex.route(emb.filter(col("vec_id") < Bm25.NQueriesB))(
      IvfIndex.nearestN(centroids, _, BinaryQuant.IvfNprobe))
    (idx, probes, qv, centroids)
  }

  /** The graded request, off-index-terms shape: both layouts warm,
    * the query batch routed, then the two bounded request stages. */
  def serveE2e(s: SparkSession, dir: String): DataFrame = {
    val (idx, probes, qv, _) = warmAndRoute(s, dir)
    // request stage 1: ONE lazy retrieval plan → the ≤ |q|·K fused list
    val fusedRows = fusedList(s, idx, probes, qv).collect()
    // request stage 2: bounded point-read fetch + MMR diversity greedy
    mmrOverFetched(s, idx.embById, fusedRows)
  }

  /** The graded request, ONLINE-terms shape — the contract a deployed
    * request actually has: its terms arrive WITH it (derived here,
    * deterministically, off the query docs' own postings rows at
    * request arrival — a driver-side bounded stash, exactly like probe
    * routing — which the twin re-derives through the same function).
    * The term set pushes into the word-sorted postings scan as
    * `word IN (…)`; row-group stats prune everything outside the
    * request's vocabulary slice. Bit-equal to serve_e2e: the qterms
    * join keeps exactly those words anyway (ServeE2eSpec pins it). */
  def serveE2eOnline(s: SparkSession, dir: String): DataFrame = {
    val (idx, probes, qv, _) = warmAndRoute(s, dir)
    val terms = onlineTermsFor(idx)
    val fusedRows = fusedListOnline(s, idx, probes, qv, terms).collect()
    mmrOverFetched(s, idx.embById, fusedRows)
  }

  /** A request batch's ONLINE term sets, derived deterministically off
    * the query docs' own postings rows at request arrival (a bounded
    * driver-side stash, exactly like probe routing). The (qid, word)
    * sort is LOAD-BEARING: the derived sequence feeds the twin's
    * literal VALUES list, so every consumer (the graded key, the
    * census tool, the specs) must derive the SAME order — which is why
    * this lives in one place. */
  private[graft] def onlineTermsFor(idx: OpenIndexes): Seq[(Long, String)] =
    idx.tf.filter(col("doc_id") < Bm25.NQueriesB)
      .select(col("doc_id").cast("long"), col("word")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(t => (t._1, t._2))

  /** Stage-1 retrieval dataflow GIVEN open indexes and routed probes —
    * pure plan construction (ServeE2eSpec pins zero jobs launched
    * while building it): BM25 top-20 + coded-IVF top-20 → RRF fusion
    * → the (qid, vec_id, rrf, rank) fused list. Query terms come off
    * the index (the graded more-like-this shape — bm25_search). */
  private[graft] def fusedList(s: SparkSession, idx: OpenIndexes,
      probes: Seq[(Long, Int)], qv: DataFrame): DataFrame = {
    val qterms = idx.tf
      .filter(col("doc_id") < Bm25.NQueriesB)
      .select(col("doc_id").as("qid"), col("word"))
    fusedOver(idx, probes, qv, idx.tf, qterms)
  }

  /** Stage-1 retrieval, ONLINE shape: the request's literal term set
    * prunes the postings scan (`word IN (…)` → PushedFilters; the
    * salted write sorts files by word, so row-group min/max stats skip
    * everything outside the queried vocabulary slice). */
  private[graft] def fusedListOnline(s: SparkSession, idx: OpenIndexes,
      probes: Seq[(Long, Int)], qv: DataFrame,
      terms: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    val words = terms.map(_._2).distinct
    tunePointRead(s, words.size)
    fusedOver(idx, probes, qv, idx.tf.filter(col("word").isin(words: _*)),
      terms.toDF("qid", "word"))
  }

  private def fusedOver(idx: OpenIndexes, probes: Seq[(Long, Int)],
      qv: DataFrame, tf: DataFrame, qterms: DataFrame): DataFrame = {
    val bm = Bm25.scoreInRow(tf, idx.totals, qterms, Bm25.TopN)
      .select(col("qid"), col("doc_id").as("id"), col("rank").as("bm25_rank"))
    val vec = BinaryQuant.ivfBinaryCodedPlan(idx.coded,
        probes, qv, Bm25.TopN, BinaryQuant.RerankR)
      .select(col("qid"), col("vec_id").as("id"), col("rank").as("vec_rank"))
    Bm25.fuseRrf(vec, bm)
      .select(col("qid"), col("id").as("vec_id"), col("rrf"), col("rank"))
  }

  private[graft] val FusedSchema = StructType(Seq(
    StructField("qid", LongType), StructField("vec_id", LongType),
    StructField("rrf", DoubleType), StructField("rank", IntegerType)))

  /** The bounded stage-2 candidate fetch shared by the batch and
    * streaming serve tails: the DRIVER-KNOWN fused ids push into the
    * id-sorted layout as `vec_id IN (…)` (exact-set pushdown, threshold
    * raised to fit), and the fused rows join onto the fetched vectors
    * as a plan literal (Mat.joinLocal) — O(|ids|) row groups read at
    * ANY corpus size, no shuffle and no broadcast job, pure plan
    * construction given the rows. */
  private[graft] def fetchFusedPool(s: SparkSession, embById: DataFrame,
      fused: Array[Row]): DataFrame = {
    val ids = fused.map(_.getLong(1)).distinct.sorted.toSeq
    tunePointRead(s, ids.size)
    val hy = s.createDataFrame(
      java.util.Arrays.asList(fused: _*), FusedSchema)
    // Mat.inSet: every request reuses one compiled filter class
    graft.Mat.joinLocal(
        embById.filter(graft.Mat.inSet(col("vec_id").cast(LongType), ids))
          .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("emb")),
        hy, "vec_id")
      .select(col("qid"), col("vec_id"), col("rrf"), col("rank"), col("emb"))
  }

  /** Stage-2 diversity rerank over a DRIVER-KNOWN fused list (the
    * request's own data once stage 1 materialized): the candidate ids
    * push into the id-sorted embedding layout as `vec_id IN (…)` — a
    * row-group-pruned point-read of O(|ids|) row groups at ANY corpus
    * size, replacing the corpus-wide scan-and-broadcast-join this
    * stage used through round 15 — and the fetched pool runs the
    * mmr_combined greedy at λ=0.7. Pure plan construction given the
    * rows (ServeE2eSpec pins zero jobs at build). */
  private[graft] def mmrOverFetched(s: SparkSession, embById: DataFrame,
      fused: Array[Row]): DataFrame = {
    import s.implicits._
    // ≤ |q|·K fetched rows on ONE partition: the per-qid grouping and
    // the final sort need no exchange, so the result is the only job
    val cands = fetchFusedPool(s, embById, fused).coalesce(1)
      .as[(Long, Long, Double, Int, Seq[Double])]
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val sorted = it.toArray.sortBy(_._4) // fused rank order
        val arr = sorted.map(t => (t._2, t._3, t._5.toArray))
        Mmr.select(arr, Mmr.SelectK, Mmr.CombinedLambda).zipWithIndex.map {
          case ((id, sc), i) => (qid, id, i + 1, sc)
        }.iterator
      }
      .toDF("qid", "vec_id", "mmr_rank", "mmr_score")
      .orderBy("qid", "mmr_rank")
  }

  /** One-statement twin: the BM25 CTE chain (terms from the corpus for
    * the off-index shape, the request's term LITERALS for the
    * online shape — index state tf/dl/df/tot derive from the corpus in
    * both, they ARE the at-rest index content) + the coded-IVF dense
    * twin from the catalogued codebook's literals (assignment
    * argmin, (dist, idx)-ordered probes, byte-blocked asym cut,
    * exact-cosine rerank — ivf_binary_coded's arithmetic) + the RRF
    * fusion CTEs + the unrolled greedy MMR at λ=0.7 (mmr_combined's
    * twin tail). */
  private[graft] def serveSql(centroids: Array[Array[Double]],
      onlineTerms: Option[Seq[(Long, String)]] = None): String = {
    import graft.OracleSql
    val nq = Bm25.NQueriesB; val k = Bm25.K; val topN = Bm25.TopN
    val nlist = centroids.length
    val bmCtes = onlineTerms match {
      case Some(ts) => Bm25.bm25CteOnline(topN, ts)
      case None     => Bm25.bm25Cte(topN)
    }
    s"""WITH $bmCtes,
       |vd AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${OracleSql.distList("embedding", centroids)} AS cdl
       |  FROM embeddings),
       |va AS (SELECT vec_id, embedding,
       |      CAST(list_position(cdl, list_min(cdl)) - 1 AS INT) AS centroid FROM vd),
       |pe AS (SELECT vec_id AS qid, unnest(cdl) AS dist, unnest(range(0, $nlist)) AS c
       |       FROM vd WHERE vec_id < $nq),
       |pr AS (SELECT qid, c FROM (
       |   SELECT qid, c, row_number() OVER (PARTITION BY qid ORDER BY dist ASC, c ASC) AS rn
       |   FROM pe) WHERE rn <= ${BinaryQuant.IvfNprobe}),
       |vq AS (SELECT e.vec_id AS qid, e.embedding AS qv,
       |      ${OracleSql.norm("e.embedding")} AS qn
       |      FROM embeddings e WHERE e.vec_id < $nq),
       |c0 AS (SELECT p.qid, e.vec_id,
       |        ${BinaryQuant.asymSql("vq.qv", "e.embedding")} AS asym,
       |        ${OracleSql.dot("vq.qv", "e.embedding")}
       |          / (${OracleSql.norm("e.embedding")} * vq.qn) AS score
       |      FROM pr p JOIN va e ON e.centroid = p.c JOIN vq ON vq.qid = p.qid),
       |c1 AS (SELECT *, row_number() OVER
       |        (PARTITION BY qid ORDER BY asym DESC, vec_id ASC) AS ar FROM c0),
       |vec AS (SELECT qid, vec_id AS id, CAST(rnk AS INT) AS vec_rank FROM (
       |   SELECT qid, vec_id, row_number() OVER
       |     (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |   FROM c1 WHERE ar <= ${BinaryQuant.RerankR}) WHERE rnk <= $topN),
       |fused AS (SELECT coalesce(vec.qid, bm.qid) AS qid,
       |                 coalesce(vec.id, bm.doc_id) AS id,
       |                 vec.vec_rank AS vec_rank, bm."rank" AS bm25_rank,
       |                 coalesce(1.0e0 / (${Bm25.RrfK} + vec.vec_rank), 0.0e0)
       |                   + coalesce(1.0e0 / (${Bm25.RrfK} + bm."rank"), 0.0e0) AS rrf
       |          FROM vec FULL OUTER JOIN bm
       |            ON bm.qid = vec.qid AND bm.doc_id = vec.id),
       |hy AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id ASC) AS rnk
       |  FROM fused) WHERE rnk <= $k),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |  FROM embeddings),
       |cand AS MATERIALIZED (
       |  SELECT hy.qid, hy.id AS vec_id, hy.rrf AS rel,
       |         row_number() OVER (PARTITION BY hy.qid ORDER BY hy.rnk ASC) AS rnk
       |  FROM hy JOIN embeddings e ON e.vec_id = hy.id),
       |${Mmr.pairCte}""".stripMargin +
      Mmr.greedyUnroll("0.7e0", "(1.0e0 - 0.7e0)")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "serve_e2e" -> (serveE2e _),
    "serve_e2e_online" -> (serveE2eOnline _))

  def oracles: Map[String, graft.OracleSql.Twin] = Map[String, graft.OracleSql.Twin](
    ("serve_e2e", (s, d) => serveSql(denseLayoutFor(s, d)._2)),
    ("serve_e2e_online", (s, d) => {
      val (idx, _, _, centroids) = warmAndRoute(s, d)
      serveSql(centroids, Some(onlineTermsFor(idx)))
    }))
}
