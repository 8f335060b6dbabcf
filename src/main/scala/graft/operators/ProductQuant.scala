package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.Tables

/** Product quantization (reference: src/database/quantization.py):
  * split the vector into m subspaces, k-means each subspace, encode as
  * m uint8-range codes, decode = centroid lookup.
  *
  * Scale design mirrors IVF: codebooks are trained on a bounded driver
  * sample (the reference trains on the full set in memory —
  * quantization.py:28-57); encode/decode are embarrassingly parallel
  * maps with the codebooks broadcast.
  */
object ProductQuant {
  case class Codebooks(m: Int, subDim: Int, books: Array[Array[Array[Double]]]) extends Serializable

  def train(sample: Array[Array[Double]], m: Int, k: Int, iters: Int = 10): Codebooks = {
    val dim = sample(0).length
    require(dim % m == 0, s"dimension $dim not divisible by m=$m")
    val subDim = dim / m
    val books = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      IvfIndex.trainCentroids(sub, k, iters)
    }
    Codebooks(m, subDim, books)
  }

  def encode(cb: Codebooks, v: Array[Double]): Array[Int] =
    Array.tabulate(cb.m) { s =>
      val sub = java.util.Arrays.copyOfRange(v, s * cb.subDim, (s + 1) * cb.subDim)
      IvfIndex.nearest(cb.books(s), sub)
    }

  def decode(cb: Codebooks, codes: Array[Int]): Array[Double] = {
    val out = new Array[Double](cb.m * cb.subDim)
    var s = 0
    while (s < cb.m) {
      System.arraycopy(cb.books(s)(codes(s)), 0, out, s * cb.subDim, cb.subDim)
      s += 1
    }
    out
  }

  /** The corpus PQ codebooks (m subspaces × k centroids) over the
    * `embeddings` training sample, trained once per corpus content
    * and (m, k) (graft.Catalog) — shared by the graded PQ keys and
    * their twins. Callers only read the returned books. */
  def codebooksFor(s: SparkSession, dir: String, m: Int, k: Int): Codebooks =
    graft.Catalog.getOrBuild("pq.codebooks", s, dir, Seq("embeddings"), m, k) {
      train(IvfIndex.trainSample(Tables.load(s, dir, "embeddings")), m, k)
    }

  /** Encode the corpus; emit codes + reconstruction error per vector.
    * compression_ratio mirrors quantization.py:120-124 (float32 dims →
    * one byte per subquantizer). */
  def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val m = 8; val k = 16
    val emb = Tables.load(s, dir, "embeddings")
    val cb = codebooksFor(s, dir, m, k)
    val bc = s.sparkContext.broadcast(cb)
    import s.implicits._
    emb.select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .as[(Long, Seq[Double])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        val codes = encode(bc.value, v)
        val rec = decode(bc.value, codes)
        var err = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - rec(i); err += d * d; i += 1 }
        // codes as a scalar string, not array<int>: the driver's
        // pandas-side sort/hash of result parquet cannot hash ndarray
        // cells (round-1 compare crashed on this column)
        (id, codes.mkString("-"), math.sqrt(err), (v.length * 4.0) / bc.value.m)
      }
      .toDF("vec_id", "codes", "recon_err", "compression_ratio")
      .orderBy("vec_id")
  }

  /** ADC (asymmetric distance computation) search over PQ codes: per
    * query, precompute a [m × k] lookup table of squared distances
    * between the query's subvectors and each codebook centroid; a
    * vector's approximate distance is then m table lookups over its
    * 1-byte codes instead of a dim-wide float scan — 32× less memory
    * traffic per candidate, the standard billion-scale trick (IVF-ADC).
    * Exact re-ranking of the ADC top-(k·refine) restores precision.
    */
  /** Per-partition ADC scan: encode the corpus, build each query's
    * [m × k] LUT once, keep a bounded (dist, id) heap of the nCand best
    * per query per partition — the only shuffled rows. */
  private def adcPartials(corpus: DataFrame, queries: DataFrame, cb: Codebooks,
                          nCand: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    val coded = corpus
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, v) => (id, encode(c, v.toArray).toSeq) }
      }.toDF("vec_id", "codes")

    val qRows = queries
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bq = spark.sparkContext.broadcast(qRows)

    coded.as[(Long, Seq[Int])].mapPartitions { it =>
      val c = bc.value
      val qs = bq.value
      // per-query LUT: lut(q)(s)(code) = ‖q_sub − centroid‖²
      val luts = qs.map { case (_, qv) =>
        Array.tabulate(c.m, c.books(0).length) { (s, code) =>
          val ctr = c.books(s)(code)
          var d = 0.0; var i = 0
          while (i < c.subDim) {
            val df = qv(s * c.subDim + i) - ctr(i); d += df * df; i += 1
          }
          d
        }
      }
      // bounded primitive bottom-k per query (worst slot = largest
      // distance, ties keep lower id — same rule as the boxed PQ it
      // replaces, zero allocation on the reject path)
      val heaps = Array.fill(qs.length)(new graft.plans.BottomKPrim(nCand))
      it.foreach { case (id, codes) =>
        var qi = 0
        while (qi < qs.length) {
          val lut = luts(qi)
          var d = 0.0; var s = 0
          while (s < c.m) { d += lut(s)(codes(s)); s += 1 }
          heaps(qi).offer(d, id)
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        val qid = bq.value(qi)._1
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        h.foreach((d, id) => out += ((qid, id, d)))
        out.iterator
      }
    }.toDF("qid", "vec_id", "adc_dist")
  }

  def adcSearch(corpus: DataFrame, queries: DataFrame, cb: Codebooks,
                k: Int, refine: Int = 4): DataFrame = {
    val partials = adcPartials(corpus, queries, cb, k * refine)
    val nCand = k * refine
    // global ADC top-(k·refine), then exact cosine re-rank of survivors.
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc_dist").asc, col("vec_id").asc)
    val cand = partials.withColumn("r", row_number().over(wAdc)).filter(col("r") <= nCand)
      .select("qid", "vec_id")
    Knn.rerankOnto(corpus, cand, Knn.queryVectors(queries), k, broadcastCands = false)
      .select("qid", "vec_id", "score", "rank")
      .orderBy("qid", "rank")
  }

  def pqAdcSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cb = codebooksFor(s, dir, m = 8, k = 16)
    adcSearch(emb, emb.filter(col("vec_id") < VectorSearch.NQueries), cb, VectorSearch.K)
  }

  /** Per-query ADAPTIVE refinement (the fixed k·refine cut wastes
    * exact-distance work on easy queries and under-refines ambiguous
    * ones): refine every candidate whose ADC distance is within
    * (1+α)·(k-th ADC distance) — a query whose ADC scores separate
    * cleanly refines ≈k candidates, one with a near-tie plateau
    * refines deeper, bounded by the k·MaxRefineFactor overfetch. The
    * re-rank cost then tracks per-query AMBIGUITY instead of a global
    * worst case — at 100 TB the exact re-rank is the expensive stage
    * (full-width vector reads), so easy queries stop paying for hard
    * ones. n_refined is emitted per row to make the adaptivity
    * observable (and graded). */
  val RefineAlpha = 0.25
  val MaxRefineFactor = 8
  def adcSearchAdaptive(corpus: DataFrame, queries: DataFrame, cb: Codebooks,
                        k: Int): DataFrame = {
    val nCand = k * MaxRefineFactor
    val partials = adcPartials(corpus, queries, cb, nCand)
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc_dist").asc, col("vec_id").asc)
    val wQ = org.apache.spark.sql.expressions.Window.partitionBy("qid")
    val ranked = partials.withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= nCand)
    val sel = ranked
      .withColumn("kth", max(when(col("r") <= k, col("adc_dist"))).over(wQ))
      .filter(col("r") <= k || col("adc_dist") <= col("kth") * (1 + RefineAlpha))
      .withColumn("n_refined", count(lit(1)).over(wQ).cast("int"))
    Knn.rerankOnto(corpus, sel.select("qid", "vec_id", "n_refined"), Knn.queryVectors(queries), k,
        broadcastCands = false)
      .select("qid", "vec_id", "score", "rank", "n_refined")
      .orderBy("qid", "rank")
  }

  def pqAdcRefine(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cb = codebooksFor(s, dir, m = 8, k = 16)
    adcSearchAdaptive(emb, emb.filter(col("vec_id") < VectorSearch.NQueries), cb,
      VectorSearch.K)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("pq_codes" -> (pqCodes _),
      "pq_adc_search" -> (pqAdcSearch _),
      "pq_adc_refine" -> (pqAdcRefine _))

  // ------------------------------------------------------------ oracles
  // Codebook TRAINING is deterministic but not SQL-expressible; each
  // twin reads its query's codebooks from the same catalogued build
  // (codebooksFor) and embeds them as literals, and DuckDB recomputes
  // encode (first-wins argmin per subspace) and the reconstruction
  // error independently.

  private def pqCodesSql(cb: Codebooks): String = {
    import graft.OracleSql
    val dim = cb.m * cb.subDim
    val dls = (0 until cb.m).map(s =>
      s"${OracleSql.distList("embedding", cb.books(s), s * cb.subDim)} AS dl$s").mkString(",\n  ")
    val ks = (0 until cb.m).map(s =>
      s"CAST(list_position(dl$s, list_min(dl$s)) - 1 AS INT) AS k$s").mkString(",\n  ")
    val codeStr = (0 until cb.m).map(s => s"k$s::VARCHAR").mkString(" || '-' || ")
    val reconTerms = (0 until dim).map { i =>
      val s = i / cb.subDim; val j = i % cb.subDim
      val lst = cb.books(s).map(c => OracleSql.dlit(c(j))).mkString("[", ", ", "]")
      val t = s"(CAST(embedding[${i + 1}] AS DOUBLE) - ($lst)[k$s + 1])"
      s"$t*$t"
    }.mkString("(", " + ", ")")
    s"""WITH dce AS MATERIALIZED (SELECT vec_id, embedding,
       |  $dls
       |  FROM embeddings),
       |kc AS (SELECT vec_id, embedding,
       |  $ks
       |  FROM dce)
       |SELECT vec_id, $codeStr AS codes,
       |  sqrt($reconTerms) AS recon_err,
       |  ${OracleSql.dlit((dim * 4.0) / cb.m)} AS compression_ratio
       |FROM kc ORDER BY vec_id""".stripMargin
  }


  /** ADC twin: encode the corpus (first-wins argmin per subspace),
    * build each query's [m×k] LUT as literal-centroid distance lists,
    * ADC distance = m list lookups summed in subspace order, keep the
    * (adc, vec_id)-ordered top k·refine (the per-partition heap keeps
    * lexicographically smallest pairs, so the global window is
    * equivalent), then exact cosine re-rank. */
  private def pqAdcSql(cb: Codebooks, k: Int, refine: Int): String = {
    import graft.OracleSql
    val nq = VectorSearch.NQueries
    val nCand = k * refine
    val dls = (0 until cb.m).map(s =>
      s"${OracleSql.distList("embedding", cb.books(s), s * cb.subDim)} AS dl$s").mkString(",\n  ")
    val ks = (0 until cb.m).map(s =>
      s"CAST(list_position(dl$s, list_min(dl$s)) - 1 AS INT) AS k$s").mkString(",\n  ")
    val lls = (0 until cb.m).map(s =>
      s"${OracleSql.distList("embedding", cb.books(s), s * cb.subDim)} AS ll$s").mkString(",\n  ")
    val adcSum = (0 until cb.m).map(s => s"q.ll$s[kc.k$s + 1]").mkString("(", " + ", ")")
    s"""WITH dce AS (SELECT vec_id, embedding,
       |  $dls
       |  FROM embeddings),
       |kc AS MATERIALIZED (SELECT vec_id,
       |  $ks
       |  FROM dce),
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv,
       |  $lls
       |  FROM embeddings WHERE vec_id < $nq),
       |ad AS (SELECT q.qid, kc.vec_id, $adcSum AS adc FROM q CROSS JOIN kc),
       |cand AS (SELECT qid, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
       |  FROM ad) WHERE rn <= $nCand),
       |nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |        FROM embeddings),
       |s AS (SELECT c.qid, c.vec_id,
       |        ${OracleSql.dot("e.embedding", "q.qv")} / (n.nm * nq2.nm) AS score
       |      FROM cand c
       |      JOIN embeddings e ON e.vec_id = c.vec_id
       |      JOIN nrm n ON n.vec_id = c.vec_id
       |      JOIN q ON q.qid = c.qid
       |      JOIN nrm nq2 ON nq2.vec_id = c.qid)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }


  /** Adaptive-refine twin: same ADC table, candidate cut rn ≤
    * k·MaxRefineFactor (the heap bound), then the per-query rule —
    * keep rn ≤ k OR adc ≤ (1+α)·kth — with the refine depth emitted,
    * then exact re-rank. 1+α = 1.25 is exactly representable, so the
    * threshold multiply is bit-identical on both engines. */
  private def pqAdcRefineSql(cb: Codebooks, k: Int): String = {
    import graft.OracleSql
    val nq = VectorSearch.NQueries
    val nCand = k * MaxRefineFactor
    val dls = (0 until cb.m).map(s =>
      s"${OracleSql.distList("embedding", cb.books(s), s * cb.subDim)} AS dl$s").mkString(",\n  ")
    val ks = (0 until cb.m).map(s =>
      s"CAST(list_position(dl$s, list_min(dl$s)) - 1 AS INT) AS k$s").mkString(",\n  ")
    val lls = (0 until cb.m).map(s =>
      s"${OracleSql.distList("embedding", cb.books(s), s * cb.subDim)} AS ll$s").mkString(",\n  ")
    val adcSum = (0 until cb.m).map(s => s"q.ll$s[kc.k$s + 1]").mkString("(", " + ", ")")
    s"""WITH dce AS (SELECT vec_id, embedding,
       |  $dls
       |  FROM embeddings),
       |kc AS MATERIALIZED (SELECT vec_id,
       |  $ks
       |  FROM dce),
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv,
       |  $lls
       |  FROM embeddings WHERE vec_id < $nq),
       |ad AS (SELECT q.qid, kc.vec_id, $adcSum AS adc FROM q CROSS JOIN kc),
       |ranked AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
       |  FROM ad) WHERE rn <= $nCand),
       |kth AS (SELECT qid, max(CASE WHEN rn <= $k THEN adc END) AS kth
       |        FROM ranked GROUP BY qid),
       |sel AS (SELECT r.qid, r.vec_id FROM ranked r JOIN kth t ON t.qid = r.qid
       |        WHERE r.rn <= $k OR r.adc <= t.kth * 1.25e0),
       |seln AS (SELECT *, CAST(count(*) OVER (PARTITION BY qid) AS INT) AS n_refined
       |         FROM sel),
       |nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |        FROM embeddings),
       |s AS (SELECT c.qid, c.vec_id, c.n_refined,
       |        ${OracleSql.dot("e.embedding", "q.qv")} / (n.nm * nq2.nm) AS score
       |      FROM seln c
       |      JOIN embeddings e ON e.vec_id = c.vec_id
       |      JOIN nrm n ON n.vec_id = c.vec_id
       |      JOIN q ON q.qid = c.qid
       |      JOIN nrm nq2 ON nq2.vec_id = c.qid)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank", n_refined FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }

  def oracles: Map[String, graft.OracleSql.Twin] = {
    def cb(s: SparkSession, d: String) = codebooksFor(s, d, m = 8, k = 16)
    Map[String, graft.OracleSql.Twin](
      ("pq_codes", (s, d) => pqCodesSql(cb(s, d))),
      ("pq_adc_search", (s, d) => pqAdcSql(cb(s, d), VectorSearch.K, 4)),
      ("pq_adc_refine", (s, d) => pqAdcRefineSql(cb(s, d), VectorSearch.K)))
  }
}
