package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{OracleSql, Tables}

/** ColBERT-style multi-vector late-interaction retrieval (Khattab &
  * Zaharia, SIGIR'20 — MaxSim scoring).
  *
  * The reference stores ONE embedding per item (vector_index.py keys
  * `id -> vector`); modern retrieval stacks increasingly store SEVERAL
  * vectors per document (one per token/chunk/patch) and score a query
  * against a document by late interaction:
  *
  *   maxsim(q, d) = Σ_{q_i ∈ q tokens}  max_{d_j ∈ d tokens} cos(q_i, d_j)
  *
  * — each query token picks its best-matching document token, and the
  * per-token winners sum. This file re-expresses that Spark-first over
  * the `embeddings` table, modeling multi-vector docs as fixed-arity
  * token groups: doc_id = vec_id div Slots, slot = vec_id mod Slots
  * (deterministic, so the SQL twin derives the identical grouping).
  *
  * Plan shape at 100 TB: the query side is tiny (q docs × Slots token
  * vectors) → BROADCAST; the corpus scans ONCE through a broadcast
  * nested-loop join with the codegen CosineSimD kernel inline; the
  * (query-token, corpus-vector) pair set never materializes — partial
  * aggregation collapses it map-side to ≤ q·Slots rows per corpus doc
  * before the single (qid, doc_id)-keyed exchange, whose volume is
  * q × n_docs slot-max rows (the same asymptotic as exact kNN's scored
  * pairs). Exact-by-contract, like knn_cosine: the ANN scale path
  * composes the engine's existing routing (IVF centroids over the
  * doc-token vectors) in front of the same scoring tail.
  *
  * Bit-exactness: cos is the codegen left-to-right kernel the oracle
  * unrolls term-for-term (knn_cosine's proven pairing); `max` over an
  * identical value set is order-independent; the per-doc score adds
  * the Slots slot-maxima in WRITTEN order (m0+m1+m2+m3, left-assoc
  * IEEE on both engines — the hybrid_rrf discipline); ties break by
  * doc_id. */
object MultiVector {
  val Slots = 4   // token vectors per document
  val NQDocs = 3  // query docs: doc_id < 3 (12 query token vectors)
  val K = 10      // final list length
  val NList = 16  // IVF cells over the TOKEN vectors (routed variant)
  val NProbe = 4  // probed cells per query token

  /** Exact MaxSim top-K per query doc over the slot-grouped corpus. */
  def maxsim(s: SparkSession, dir: String): DataFrame =
    maxsimOverEmb(Tables.load(s, dir, "embeddings"))

  /** The same pipeline over any (vec_id, embedding) frame — shared by
    * the graded query and the ScaleProbe throughput datapoint.
    *
    * Plan: the query-token set is driver-bounded (NQDocs × Slots rows
    * — the knn broadcast-query regime), so instead of exploding the
    * corpus 12× through a nested-loop join, every (query doc, slot)
    * pair becomes a LITERAL cosine column over ONE corpus-token scan
    * (the centroid-literal idiom: the tiny side rides the codegen
    * expression, not a join). The aggregate then groups by doc_id
    * alone — q·Slots conditional maxes wide, corpus-token rows tall,
    * partial-agg collapsed map-side — and per-query score rows unfold
    * AFTER the aggregate from an inline array (no re-aggregation per
    * query). Same cosine kernel, same max sets, same written-order
    * slot sum → bit-equal to the pairs formulation (streaming keeps
    * the generic pairs shape; Round10Spec pins streaming == batch). */
  def maxsimOverEmb(emb: DataFrame): DataFrame = {
    val tok = tokens(emb)
    val scored = maxSim(tok, cosCols(queryTokens(tok)), "score")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("doc_id"), col("score"),
        col("rank").cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  /** Token rows (doc_id, slot, embedding) of a (vec_id, embedding) frame. */
  private def tokens(emb: DataFrame): DataFrame =
    emb.select(expr(s"vec_id div $Slots").as("doc_id"),
      pmod(col("vec_id"), lit(Slots)).cast("int").as("slot"),
      col("embedding"))

  /** The query docs' token vectors, (doc_id, slot)-ordered — driver-
    * bounded (NQDocs × Slots rows). */
  private def queryTokens(tok: DataFrame): Array[(Long, Int, Seq[Double])] =
    tok.filter(col("doc_id") < NQDocs)
      .select(col("doc_id"), col("slot"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2))

  /** Exact per-(query, slot) token scores: a literal cosine column each. */
  private def cosCols(qRows: Seq[(Long, Int, Seq[Double])]): Seq[((Long, Int), Column)] =
    qRows.map { case (q, s0, qv) =>
      (q, s0) -> graft.functions.VectorOps.cosineSim(typedLit(qv), col("embedding"))
    }

  /** The one MaxSim aggregate: `cols` score each of `tok`'s rows against
    * every (query, slot) token, in (query, slot) order; ONE doc_id-keyed
    * aggregate takes each column's max — q·Slots conditional maxes
    * wide, partial-agg collapsed map-side — and per-query rows unfold
    * AFTER it from an inline array, each query's slot maxima summed in
    * written order (left-assoc, the pairs formulation's arithmetic).
    * Returns (qid, doc_id, `out`). */
  private def maxSim(tok: DataFrame, cols: Seq[((Long, Int), Column)],
      out: String): DataFrame = {
    val names = cols.map { case ((q, s0), _) => s"${q}_$s0" }
    val maxes = names.map(n => max(col(s"c_$n")).as(s"m_$n"))
    val agg = tok.select(col("doc_id") +: cols.zip(names).map { case ((_, c), n) =>
        c.as(s"c_$n") }: _*)
      .groupBy("doc_id").agg(maxes.head, maxes.tail: _*)
    agg.select(col("doc_id"), explode(array(cols.map(_._1._1).distinct.map { q =>
      val sum = cols.collect { case ((`q`, s0), _) => col(s"m_${q}_$s0") }.reduceLeft(_ + _)
      struct(lit(q).as("qid"), sum.as(out))
    }: _*)).as("qs"))
      .select(col("qs.qid").as("qid"), col("doc_id"), col(s"qs.$out").as(out))
  }

  /** The scoring tail shared by the exact and routed variants: per-
    * (qid, doc) conditional slot maxima in ONE aggregate, written-order
    * sum, (score DESC, doc_id ASC) top-K. */
  private def scoreTail(pairs: DataFrame): DataFrame = {
    val slotMax = pairs.groupBy("qid", "doc_id").agg(
      max(when(col("qslot") === 0, col("c"))).as("m0"),
      max(when(col("qslot") === 1, col("c"))).as("m1"),
      max(when(col("qslot") === 2, col("c"))).as("m2"),
      max(when(col("qslot") === 3, col("c"))).as("m3"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    slotMax
      .withColumn("score", col("m0") + col("m1") + col("m2") + col("m3"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("doc_id"), col("score"),
        col("rank").cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  /** IVF-ROUTED MaxSim — the ANN scale path in front of the same
    * scoring tail: centroids train over the TOKEN vectors (one cell
    * granularity for every doc's tokens), each query token routes to
    * its NProbe nearest cells (the codegen NearestCentroidsExpr, the
    * same routing the IVF serving paths use), the CANDIDATE DOC set is
    * every doc with at least one token in a probed cell (a broadcast
    * equi-join on centroid — the corpus-wide cross join never forms),
    * and the exact late-interaction score computes only over the
    * candidates (full token sets — scores of surviving docs are
    * IDENTICAL to the exact operator's, the routing only prunes).
    * At 100 TB the scan touches O(probed cells) of a centroid-
    * partitioned token layout instead of the corpus. Deterministic
    * end to end (md5-ordered training sample, dist/index tie-breaks),
    * so the twin replays routing + candidates + scoring from the
    * catalogued codebook's literals — oracle-checked bit-exact. */
  def maxsimIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.Shims
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, NList)
    val tok = IvfIndex.assign(emb, centroids)
      .select(expr(s"vec_id div $Slots").as("doc_id"),
        pmod(col("vec_id"), lit(Slots)).cast("int").as("slot"),
        col("embedding"), col("centroid"))
    val qtok = tok.filter(col("doc_id") < NQDocs)
      .select(col("doc_id").as("qid"), col("slot").as("qslot"),
        col("embedding").as("qv"))
    val routed = qtok.withColumn("centroid",
        explode(Shims.column(NearestCentroidsExpr(
          Shims.expression(col("qv")), centroids, NProbe))))
      .select("qid", "centroid").distinct()
    val cands = tok.join(broadcast(routed), "centroid")
      .select("qid", "doc_id").distinct()
    val pairs = cands
      .join(tok.select(col("doc_id"), col("embedding")), "doc_id")
      .join(broadcast(qtok), "qid")
      .withColumn("c",
        graft.functions.VectorOps.cosineSim(col("qv"), col("embedding")))
    scoreTail(pairs)
  }

  val maxsimSql: String =
    s"""WITH tok AS (SELECT vec_id // $Slots AS doc_id, vec_id % $Slots AS slot,
       |                    embedding FROM embeddings),
       |q AS (SELECT doc_id AS qid, slot AS qslot, embedding AS qv
       |      FROM tok WHERE doc_id < $NQDocs),
       |p AS (SELECT q.qid, q.qslot, t.doc_id,
       |        ${OracleSql.cosine("q.qv", "t.embedding")} AS c
       |      FROM q CROSS JOIN tok t),
       |m AS (SELECT qid, doc_id,
       |        max(CASE WHEN qslot = 0 THEN c END) AS m0,
       |        max(CASE WHEN qslot = 1 THEN c END) AS m1,
       |        max(CASE WHEN qslot = 2 THEN c END) AS m2,
       |        max(CASE WHEN qslot = 3 THEN c END) AS m3
       |      FROM p GROUP BY qid, doc_id),
       |sc AS (SELECT qid, doc_id, m0 + m1 + m2 + m3 AS score FROM m)
       |SELECT qid, doc_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin

  /** The multi-vector family's AT-REST form — the token index
    * persisted as a centroid-partitioned layout (index_save_load's
    * shape for token vectors): the assigned tokens WRITE once
    * partitioned by centroid, the candidate stage serves from the
    * RELOADED layout with the probed cells as an explicit
    * `centroid IN (…)` filter — partition pruning, only probed
    * directories read (spec-pinned PartitionFilters) — and candidate
    * docs' full token sets join back by doc_id (candidate-bounded,
    * the only non-pruned read) into the same exact scoring tail.
    * Routing is driver-side nearestN over the tiny query-token set
    * (the indexSaveLoad probe idiom — identical tie-breaks to
    * NearestCentroidsExpr), so the layout serve computes EXACTLY what
    * the in-memory routed operator computes and the SAME codebook
    * twin grades both. */
  def maxsimLayout(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, NList)
    graft.Mat.withScratchDirs("maxsim_layout") { case Seq(out) =>
      IvfIndex.assign(emb, centroids)
        .write.partitionBy("centroid").mode("overwrite").parquet(out)
      val loaded = s.read.parquet(out).select(col("vec_id"),
        expr(s"vec_id div $Slots").as("doc_id"),
        pmod(col("vec_id"), lit(Slots)).cast("int").as("slot"),
        col("embedding"), col("centroid").cast("int").as("centroid"))
      val qRows = loaded.filter(col("doc_id") < NQDocs)
        .select(col("doc_id"), col("slot"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val probePairs = qRows.flatMap { case (qid, _, qv) =>
        IvfIndex.nearestN(centroids, qv, NProbe).map(c => (qid, c))
      }.distinct.toSeq
      val probed = probePairs.map(_._2).distinct.sorted
      import s.implicits._
      // candidate stage: ONLY the probed partitions of the layout, the
      // probe set joined as a plan literal (Mat.joinLocal)
      val cands = graft.Mat.joinLocal(
          loaded.filter(col("centroid").isin(probed.map(Int.box): _*)),
          probePairs.toDF("qid", "centroid"), "centroid")
        .select("qid", "doc_id").distinct()
      val qtok = loaded.filter(col("doc_id") < NQDocs)
        .select(col("doc_id").as("qid"), col("slot").as("qslot"),
          col("embedding").as("qv"))
      val pairs = cands
        .join(loaded.select(col("doc_id"), col("embedding")), "doc_id")
        .join(broadcast(qtok), "qid")
        .withColumn("c",
          graft.functions.VectorOps.cosineSim(col("qv"), col("embedding")))
      graft.Mat.detach(scoreTail(pairs))
    }
  }

  /** SIGN-CODED MaxSim — the 1-bit candidate tier in front of the
    * exact rerank (knn_binary_asym's shape for late interaction,
    * completing the family's tier ladder next to the dense stack's
    * float/int8/sign/PQ progression): the CODED pass scores every
    * (query token, doc token) pair with the asymmetric ±q sum — the
    * corpus side contributes ONLY ITS SIGN BITS (8 bytes/vector at
    * rest), the query values ride as literals, byte-blocked
    * accumulation identical to the LUT serving kernel — aggregated
    * into a coded MaxSim per (query, doc) by the same slot-max +
    * written-order-sum tail; the top CodedR docs per query by
    * (coded DESC, doc ASC) then rerank through the EXACT cosine
    * MaxSim, top-K by (score DESC, doc ASC). One corpus-token scan
    * computes both tiers' columns (the coded columns for everything,
    * the float columns only consumed for candidate docs). At 100 TB
    * the candidate pass reads 8-byte codes instead of 4·dim floats —
    * 32× narrower at 64-d — exactly the asym tier's economics.
    * Deterministic throughout, so the twin replays both tiers (the
    * byte-blocked asym sum unrolled term-for-term — the
    * knn_binary_asym pairing) — oracle-checked bit-exact. */
  val CodedR = 2 * K // candidate docs per query from the coded tier
  def maxsimCoded(s: SparkSession, dir: String): DataFrame =
    maxsimCodedOverEmb(Tables.load(s, dir, "embeddings"))

  def maxsimCodedOverEmb(emb: DataFrame): DataFrame = {
    val tok = tokens(emb)
    val qRows = queryTokens(tok)
    // coded tier: asym columns over the whole corpus-token scan
    exactRerank(tok, qRows, maxSim(tok, qRows.map { case (q, s0, qv) =>
      (q, s0) -> graft.functions.VectorOps.asymSignDot(col("embedding"), typedLit(qv))
    }, "coded"), "coded")
  }

  /** The family's exact rerank: each query's top CodedR docs of the
    * candidate tier's (qid, doc_id, `tier`) scores by (`tier` DESC,
    * doc_id ASC) rescore by the float MaxSim, computed only over those
    * docs, and cut to top-K by (score DESC, doc_id ASC) — (qid, doc_id,
    * `tier`, score, rank), ordered. */
  private def exactRerank(tok: DataFrame, qRows: Seq[(Long, Int, Seq[Double])],
      tierScores: DataFrame, tier: String): DataFrame = {
    val wc = Window.partitionBy("qid").orderBy(col(tier).desc, col("doc_id").asc)
    val cand = tierScores.withColumn("ar", row_number().over(wc))
      .filter(col("ar") <= CodedR).drop("ar")
    val exact = maxSim(tok.join(broadcast(cand.select("doc_id").distinct()), "doc_id"),
      cosCols(qRows), "score")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    cand.join(exact, Seq("qid", "doc_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("doc_id"), col(tier), col("score"),
        col("rank").cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  /** PQ-ADC late interaction — the m-bytes-per-token candidate tier
    * (the multi-vector sibling of pq_adc_search / ivfpq_coded,
    * closing SURVEY §7's last round-10 candidate: "maxsim over PQ
    * token tiers"): token vectors PQ-encode once (m=8 sub-codebooks ×
    * 16 centroids over the md5-ordered training sample — the
    * ProductQuant trainer every PQ tier shares), each of the 12 query
    * tokens carries an [m×16] LUT of dot-product partials built
    * driver-side in the identical j-ascending association, and the
    * candidate score per (query token, doc token) is the ADC DOT —
    * m literal-array element_at lookups summed in subspace order
    * (pure codegen over the codes column; the float embedding is
    * never touched on the candidate pass — at rest this is the
    * m-byte/token read, the pq_codes economics). Per (query, doc) the
    * coded MaxSim folds by the family's slot-max + written-order-sum
    * tail; the top CodedR docs per query by (adc DESC, doc ASC)
    * rerank through the EXACT cosine MaxSim. Deterministic end to
    * end: the twin re-derives codes (first-wins argmin), LUTs
    * (dot-lists over the query embedding with literal centroid
    * components), the ADC fold, both reductions, and the rerank —
    * oracle-checked bit-exact. */
  val PqM = 8
  val PqTokK = 16
  def maxsimPq(s: SparkSession, dir: String): DataFrame =
    maxsimPqOverEmb(Tables.load(s, dir, "embeddings"),
      ProductQuant.codebooksFor(s, dir, m = PqM, k = PqTokK))

  def maxsimPqOverEmb(emb: DataFrame, cb: ProductQuant.Codebooks): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val tok = tokens(emb)
    val qRows = queryTokens(tok)
    // per-(query token, subspace) LUT of dot partials — j-ascending
    // left-assoc, the association the SQL twin unrolls term-for-term
    def lutFor(qv: Seq[Double]): Array[Array[Double]] =
      Array.tabulate(cb.m) { sp =>
        cb.books(sp).map { ctr =>
          var d = 0.0; var j = 0
          while (j < cb.subDim) { d += qv(sp * cb.subDim + j) * ctr(j); j += 1 }
          d
        }
      }
    // ONE encode pass over the corpus tokens: (doc_id, codes)
    val bc = s.sparkContext.broadcast(cb)
    val coded = tok.select(col("doc_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])]
      .map { case (d, v) => (d, ProductQuant.encode(bc.value, v.toArray)) }
      .toDF("doc_id", "codes")
    // ADC dot columns: m element_at lookups into LITERAL LUT arrays,
    // summed in subspace order — codegen over the codes column only
    exactRerank(tok, qRows, maxSim(coded, qRows.map { case (q, s0, qv) =>
      val lut = lutFor(qv)
      (q, s0) -> (0 until cb.m).map { sp =>
        element_at(typedLit(lut(sp).toSeq),
          element_at(col("codes"), sp + 1) + 1)
      }.reduceLeft(_ + _)
    }, "adc"), "adc")
  }

  /** PQ-tier twin: codes per token (first-wins argmin, the pq_codes
    * contract), per-query-token dot LUT lists over literal centroid
    * components, ADC = m list lookups summed in subspace order, then
    * the coded family's slot-max / written-order-sum / CodedR-cut /
    * exact-rerank chain — one statement. */
  private def maxsimPqSql(cb: ProductQuant.Codebooks): String = {
    val sumCase = (pfx: String, v: String) => (0 until Slots)
      .map(i => s"max(CASE WHEN qslot = $i THEN $v END) AS $pfx$i").mkString(",\n        ")
    val sum4 = (pfx: String) => (0 until Slots).map(i => s"$pfx$i").mkString(" + ")
    val dls = (0 until cb.m).map(sp =>
      s"${OracleSql.distList("embedding", cb.books(sp), sp * cb.subDim)} AS dl$sp")
      .mkString(",\n       ")
    val ks = (0 until cb.m).map(sp =>
      s"CAST(list_position(dl$sp, list_min(dl$sp)) - 1 AS INT) AS k$sp").mkString(",\n       ")
    val lls = (0 until cb.m).map(sp =>
      s"${OracleSql.dotList("embedding", cb.books(sp), sp * cb.subDim)} AS ll$sp")
      .mkString(",\n       ")
    val adcSum = (0 until cb.m).map(sp => s"q.ll$sp[kc.k$sp + 1]").mkString("(", " + ", ")")
    s"""WITH tok AS (SELECT vec_id // $Slots AS doc_id, vec_id % $Slots AS slot,
       |                    embedding FROM embeddings),
       |dce AS (SELECT doc_id, slot, embedding,
       |       $dls
       |       FROM tok),
       |kc AS MATERIALIZED (SELECT doc_id, slot, embedding,
       |       $ks
       |       FROM dce),
       |q AS MATERIALIZED (SELECT doc_id AS qid, slot AS qslot, embedding AS qv,
       |       $lls
       |       FROM tok WHERE doc_id < $NQDocs),
       |p AS (SELECT q.qid, q.qslot, kc.doc_id,
       |        $adcSum AS a,
       |        ${OracleSql.cosine("q.qv", "kc.embedding")} AS c
       |      FROM q CROSS JOIN kc),
       |m AS (SELECT qid, doc_id,
       |        ${sumCase("am", "a")},
       |        ${sumCase("m", "c")}
       |      FROM p GROUP BY qid, doc_id),
       |sc AS (SELECT qid, doc_id, ${sum4("am")} AS adc, ${sum4("m")} AS score FROM m),
       |cand AS (SELECT *, row_number() OVER (PARTITION BY qid
       |           ORDER BY adc DESC, doc_id ASC) AS ar FROM sc)
       |SELECT qid, doc_id, adc, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT qid, doc_id, adc, score, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM cand WHERE ar <= $CodedR)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** The routed twin replays the whole pipeline from the corpus
    * codebook's literals: per-token probe sets (dist ASC, index ASC ties
    * — the NearestCentroidsExpr contract the IVF family's twins
    * already pin), candidate docs from the probed cells, exact MaxSim
    * over the candidates only. */
  private def maxsimIvfSql(centroids: Array[Array[Double]]): String = {
    val nlist = centroids.length
    s"""WITH tokb AS MATERIALIZED (
       |  SELECT vec_id, vec_id // $Slots AS doc_id, vec_id % $Slots AS slot, embedding,
       |         ${OracleSql.distList("embedding", centroids)} AS dl
       |  FROM embeddings),
       |a AS (SELECT doc_id, slot, embedding,
       |      CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS centroid FROM tokb),
       |pe AS (SELECT doc_id AS qid, slot AS qslot, unnest(dl) AS dist,
       |              unnest(range(0, $nlist)) AS c
       |       FROM tokb WHERE doc_id < $NQDocs),
       |pr AS (SELECT DISTINCT qid, c FROM (
       |   SELECT qid, c, row_number() OVER (PARTITION BY qid, qslot
       |     ORDER BY dist ASC, c ASC) AS rn FROM pe) WHERE rn <= $NProbe),
       |cand AS (SELECT DISTINCT pr.qid, a.doc_id FROM pr JOIN a ON a.centroid = pr.c),
       |q AS (SELECT doc_id AS qid, slot AS qslot, embedding AS qv
       |      FROM tokb WHERE doc_id < $NQDocs),
       |p AS (SELECT cand.qid, q.qslot, t.doc_id,
       |        ${OracleSql.cosine("q.qv", "t.embedding")} AS c
       |      FROM cand JOIN tokb t ON t.doc_id = cand.doc_id
       |      JOIN q ON q.qid = cand.qid),
       |m AS (SELECT qid, doc_id,
       |        max(CASE WHEN qslot = 0 THEN c END) AS m0,
       |        max(CASE WHEN qslot = 1 THEN c END) AS m1,
       |        max(CASE WHEN qslot = 2 THEN c END) AS m2,
       |        max(CASE WHEN qslot = 3 THEN c END) AS m3
       |      FROM p GROUP BY qid, doc_id),
       |sc AS (SELECT qid, doc_id, m0 + m1 + m2 + m3 AS score FROM m)
       |SELECT qid, doc_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** MaxSim vs the MEAN-POOLED single-vector baseline — the eval table
    * that motivates late interaction (the comparison every ColBERT
    * paper leads with): pooling a doc's token vectors into one mean
    * vector loses token-level alignment; this op quantifies how far
    * the two retrieval modes diverge on the same corpus. Pooled doc
    * vector = elementwise ((e0+e1)+e2)+e3)/4 over the slot vectors
    * (written-order adds inside a codegen transform HOF — exactly
    * re-derivable), pooled kNN top-K by cosine, and the output is the
    * per-query integer overlap of maxsim@K with pooled@K plus a
    * top-1-agreement flag — all integer counts, exact. Restricted on
    * both sides to full-arity docs (cnt = Slots), so a ragged tail
    * doc can never null a pooled vector. */
  def pooledCompare(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val tok = emb
      .select(expr(s"vec_id div $Slots").as("doc_id"),
        pmod(col("vec_id"), lit(Slots)).cast("int").as("slot"),
        col("embedding").cast("array<double>").as("embedding"))
    val pooled = tok.groupBy("doc_id")
      .agg(max(when(col("slot") === 0, col("embedding"))).as("e0"),
        max(when(col("slot") === 1, col("embedding"))).as("e1"),
        max(when(col("slot") === 2, col("embedding"))).as("e2"),
        max(when(col("slot") === 3, col("embedding"))).as("e3"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") === Slots)
      .select(col("doc_id"), expr(
        """transform(e0, (x, i) ->
          |  (((x + element_at(e1, i + 1)) + element_at(e2, i + 1))
          |    + element_at(e3, i + 1)) / 4.0D)""".stripMargin).as("pv"))
    val qp = pooled.filter(col("doc_id") < NQDocs)
      .select(col("doc_id").as("qid"), col("pv").as("qpv"))
    val wp = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    val pooledTop = pooled.crossJoin(broadcast(qp))
      .withColumn("score",
        graft.functions.VectorOps.cosineSim(col("qpv"), col("pv")))
      .withColumn("rank", row_number().over(wp))
      .filter(col("rank") <= K)
      .select(col("qid"), col("doc_id"), col("rank"))
    val mvTop = maxsimOverEmb(emb).select(col("qid"), col("doc_id"), col("rank"))
    val ov = mvTop.join(pooledTop.select(col("qid"), col("doc_id")), Seq("qid", "doc_id"))
      .groupBy("qid").agg(count(lit(1)).as("overlap"))
    val t1 = mvTop.filter(col("rank") === 1)
      .select(col("qid"), col("doc_id").as("mv1"))
      .join(pooledTop.filter(col("rank") === 1)
        .select(col("qid"), col("doc_id").as("pl1")), "qid")
      .select(col("qid"),
        when(col("mv1") === col("pl1"), 1L).otherwise(0L).as("top1_agree"))
    ov.join(t1, "qid")
      .select(col("qid"), col("overlap"), col("top1_agree"))
      .orderBy("qid")
  }

  val pooledCompareSql: String =
    s"""WITH tok AS (SELECT vec_id // $Slots AS doc_id, vec_id % $Slots AS slot,
       |                    embedding FROM embeddings),
       |q AS (SELECT doc_id AS qid, slot AS qslot, embedding AS qv
       |      FROM tok WHERE doc_id < $NQDocs),
       |p AS (SELECT q.qid, q.qslot, t.doc_id,
       |        ${OracleSql.cosine("q.qv", "t.embedding")} AS c
       |      FROM q CROSS JOIN tok t),
       |m AS (SELECT qid, doc_id,
       |        max(CASE WHEN qslot = 0 THEN c END) AS m0,
       |        max(CASE WHEN qslot = 1 THEN c END) AS m1,
       |        max(CASE WHEN qslot = 2 THEN c END) AS m2,
       |        max(CASE WHEN qslot = 3 THEN c END) AS m3
       |      FROM p GROUP BY qid, doc_id),
       |mv AS (SELECT qid, doc_id, rnk FROM (
       |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY m0 + m1 + m2 + m3 DESC, doc_id ASC) AS rnk FROM m)
       |  WHERE rnk <= $K),
       |pool AS (SELECT doc_id,
       |        max(CASE WHEN slot = 0 THEN embedding END) AS e0,
       |        max(CASE WHEN slot = 1 THEN embedding END) AS e1,
       |        max(CASE WHEN slot = 2 THEN embedding END) AS e2,
       |        max(CASE WHEN slot = 3 THEN embedding END) AS e3,
       |        count(*) AS cnt
       |      FROM tok GROUP BY doc_id),
       |pv AS (SELECT doc_id, list_transform(range(1, ${OracleSql.Dim} + 1), i ->
       |        (((CAST(e0[i] AS DOUBLE) + CAST(e1[i] AS DOUBLE))
       |          + CAST(e2[i] AS DOUBLE)) + CAST(e3[i] AS DOUBLE)) / 4.0e0) AS pv
       |      FROM pool WHERE cnt = $Slots),
       |pl AS (SELECT qid, doc_id, rnk FROM (
       |  SELECT qp.doc_id AS qid, dp.doc_id, row_number() OVER (PARTITION BY qp.doc_id
       |    ORDER BY ${OracleSql.cosine("qp.pv", "dp.pv")} DESC, dp.doc_id ASC) AS rnk
       |  FROM pv qp CROSS JOIN pv dp WHERE qp.doc_id < $NQDocs)
       |  WHERE rnk <= $K),
       |ov AS (SELECT mv.qid, CAST(count(*) AS BIGINT) AS overlap
       |       FROM mv JOIN pl ON pl.qid = mv.qid AND pl.doc_id = mv.doc_id
       |       GROUP BY mv.qid),
       |t1 AS (SELECT a.qid,
       |         CAST(CASE WHEN a.doc_id = b.doc_id THEN 1 ELSE 0 END AS BIGINT) AS top1_agree
       |       FROM (SELECT qid, doc_id FROM mv WHERE rnk = 1) a
       |       JOIN (SELECT qid, doc_id FROM pl WHERE rnk = 1) b ON b.qid = a.qid)
       |SELECT ov.qid, ov.overlap, t1.top1_agree
       |FROM ov JOIN t1 ON t1.qid = ov.qid
       |ORDER BY ov.qid""".stripMargin

  /** Both tiers replayed in one statement: byte-blocked asym sums and
    * exact cosines per (query token, doc token), slot maxes +
    * written-order sums per (query, doc), the CodedR candidate cut by
    * (coded DESC, doc ASC), exact-rank the survivors. */
  val maxsimCodedSql: String = {
    val sumCase = (pfx: String, v: String) => (0 until Slots)
      .map(i => s"max(CASE WHEN qslot = $i THEN $v END) AS $pfx$i").mkString(",\n        ")
    val sum4 = (pfx: String) => (0 until Slots).map(i => s"$pfx$i").mkString(" + ")
    s"""WITH tok AS (SELECT vec_id // $Slots AS doc_id, vec_id % $Slots AS slot,
       |                    embedding FROM embeddings),
       |q AS (SELECT doc_id AS qid, slot AS qslot, embedding AS qv
       |      FROM tok WHERE doc_id < $NQDocs),
       |p AS (SELECT q.qid, q.qslot, t.doc_id,
       |        ${BinaryQuant.asymSql("q.qv", "t.embedding")} AS a,
       |        ${OracleSql.cosine("q.qv", "t.embedding")} AS c
       |      FROM q CROSS JOIN tok t),
       |m AS (SELECT qid, doc_id,
       |        ${sumCase("am", "a")},
       |        ${sumCase("m", "c")}
       |      FROM p GROUP BY qid, doc_id),
       |sc AS (SELECT qid, doc_id, ${sum4("am")} AS coded, ${sum4("m")} AS score FROM m),
       |cand AS (SELECT *, row_number() OVER (PARTITION BY qid
       |           ORDER BY coded DESC, doc_id ASC) AS ar FROM sc)
       |SELECT qid, doc_id, coded, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT qid, doc_id, coded, score, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM cand WHERE ar <= $CodedR)
       |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multivector_maxsim" -> (maxsim _),
    "multivector_maxsim_ivf" -> (maxsimIvf _),
    "multivector_maxsim_layout" -> (maxsimLayout _),
    "multivector_maxsim_coded" -> (maxsimCoded _),
    "multivector_maxsim_pq" -> (maxsimPq _),
    "multivector_pooled_compare" -> (pooledCompare _))

  def oracles: Map[String, graft.OracleSql.Twin] =
    graft.OracleSql.fixed(Map(
      "multivector_maxsim" -> maxsimSql,
      "multivector_maxsim_coded" -> maxsimCodedSql,
      "multivector_pooled_compare" -> pooledCompareSql)) ++
    Map[String, graft.OracleSql.Twin](
      ("multivector_maxsim_ivf", (s, d) => maxsimIvfSql(IvfIndex.centroidsFor(s, d, NList))),
      ("multivector_maxsim_layout", (s, d) => maxsimIvfSql(IvfIndex.centroidsFor(s, d, NList))),
      ("multivector_maxsim_pq", (s, d) =>
        maxsimPqSql(ProductQuant.codebooksFor(s, d, m = PqM, k = PqTokK))))
}
