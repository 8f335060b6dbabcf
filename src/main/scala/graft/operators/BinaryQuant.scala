package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{OracleSql, Tables}

/** Binary (sign-bit) quantized k-NN with exact rerank — the 1-bit
  * sibling of the reference's scalar quantization surface
  * (quantization.py int8/fp16, re-expressed here as knn_int8/knn_fp16):
  * each vector compresses to d/8 bytes (64 dims → ONE long word, a 32×
  * cut vs float32), candidate generation is XOR+popcount Hamming
  * distance, and the final ranking is exact double cosine over the
  * Hamming top-R survivors.
  *
  * Scale design (100 TB posture): the corpus scan keeps one bounded
  * top-R accumulator per broadcast query, ranked by (hamming asc, id
  * asc). The exact cosine is computed ONLY when a row is accepted into
  * the accumulator (wouldAccept gate below) — so the expensive float
  * kernel runs on ~R·log-ish rows per partition, not on every row, and
  * there is NO second corpus scan for the rerank: the accepted row's
  * exact score rides along with its Hamming key. Only numPartitions·
  * q·R (hamming, score) rows ever shuffle; the q×n pair set is never
  * materialized. At rest the code word is a derived column a real
  * deployment would persist next to the embedding, making the
  * candidate scan an 8-byte-per-row read.
  *
  * Determinism: candidate set = global top-R by (hamming asc, vec_id
  * asc); final ranking = (score desc, vec_id asc). Integer Hamming and
  * the i-ascending double dot/norm association mirror the DuckDB twin
  * term-for-term (OracleSql.dot), so the gate is bit-exact.
  */
object BinaryQuant {

  /** Rerank candidate budget: Hamming top-R feed the exact stage.
    * R is the recall knob — 64-bit codes plateau (Hamming is an
    * integer 0..64), so at large n many rows tie near the top and R
    * must grow with n to keep recall (tools/ScaleProbe sweeps R at
    * 1M). The graded query runs at corpus sizes where 4·k suffices. */
  val RerankR: Int = 4 * VectorSearch.K

  /** Bounded top-R by (hamming asc, id asc) carrying the exact score
    * as payload — BottomKPrim's shape with an Int key and a Double
    * payload. `wouldAccept` lets the caller skip the exact-cosine
    * kernel for rows that lose on the Hamming key alone. */
  final class HammingTopR(r: Int) {
    private[this] val hs = new Array[Int](r)
    private[this] val id = new Array[Long](r)
    private[this] val cs = new Array[Double](r)
    private[this] var n = 0
    private[this] var wi = 0 // worst slot, valid once n == r
    def wouldAccept(h: Int, i: Long): Boolean =
      n < r || h < hs(wi) || (h == hs(wi) && i < id(wi))
    def offer(h: Int, i: Long, c: Double): Unit = {
      if (n < r) {
        hs(n) = h; id(n) = i; cs(n) = c; n += 1
        if (n == r) refreshWorst()
      } else if (h < hs(wi) || (h == hs(wi) && i < id(wi))) {
        hs(wi) = h; id(wi) = i; cs(wi) = c; refreshWorst()
      }
    }
    private def refreshWorst(): Unit = {
      var w = 0; var j = 1
      while (j < n) {
        if (hs(j) > hs(w) || (hs(j) == hs(w) && id(j) > id(w))) w = j
        j += 1
      }
      wi = w
    }
    def foreach(f: (Int, Long, Double) => Unit): Unit = {
      var j = 0
      while (j < n) { f(hs(j), id(j), cs(j)); j += 1 }
    }
  }

  /** Sign-bit code: bit j of word j/64 is set iff v(j) >= 0. */
  def signCode(v: Array[Double]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) >= 0.0) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    words
  }

  def hamming(a: Array[Long], b: Array[Long]): Int = {
    var h = 0; var w = 0
    while (w < a.length) { h += java.lang.Long.bitCount(a(w) ^ b(w)); w += 1 }
    h
  }

  // ---------------------------------------------------------------
  // Asymmetric scoring (knn_binary_asym): the corpus stays 1-bit, the
  // query stays float — score = Σ_i (corpus_sign_i ? +q_i : −q_i),
  // computed per row as 8 table lookups + adds via a per-query
  // 256-entry byte LUT (the PQ-ADC trick applied to sign codes).
  // Double-valued scores have no Hamming plateau, so the candidate
  // budget R stays O(k) at any corpus size — the scale remedy for the
  // symmetric variant's tie problem (see RerankR note / ScaleProbe).
  // Float association is byte-blocked: lut[b][v] sums its 8 terms
  // j-ascending, rows accumulate b-ascending — the SQL twin groups its
  // unrolled sum with the same parenthesization, so the gate stays
  // bit-exact.
  // ---------------------------------------------------------------

  /** lut(b)(v) = Σ_{j<8, 8b+j<d} (bit j of v ? +q(8b+j) : −q(8b+j)). */
  def asymLut(qv: Array[Double]): Array[Array[Double]] = {
    val nbytes = (qv.length + 7) >>> 3
    val lut = Array.ofDim[Double](nbytes, 256)
    var b = 0
    while (b < nbytes) {
      var v = 0
      while (v < 256) {
        var s = 0.0; var j = 0
        while (j < 8) {
          val i = 8 * b + j
          if (i < qv.length) s += (if (((v >>> j) & 1) == 1) qv(i) else -qv(i))
          j += 1
        }
        lut(b)(v) = s
        v += 1
      }
      b += 1
    }
    lut
  }

  def asymScore(code: Array[Long], lut: Array[Array[Double]]): Double = {
    var acc = 0.0; var b = 0
    while (b < lut.length) {
      val byte = ((code(b >>> 3) >>> ((b & 7) << 3)) & 0xFF).toInt
      acc += lut(b)(byte)
      b += 1
    }
    acc
  }

  /** Bounded top-R by (score desc, id asc) with a payload — the
    * double-keyed sibling of HammingTopR for the asymmetric path. */
  final class ScoredTopR(r: Int) {
    private[this] val ks = new Array[Double](r)
    private[this] val id = new Array[Long](r)
    private[this] val cs = new Array[Double](r)
    private[this] var n = 0
    private[this] var wi = 0
    def wouldAccept(s: Double, i: Long): Boolean =
      n < r || s > ks(wi) || (s == ks(wi) && i < id(wi))
    def offer(s: Double, i: Long, c: Double): Unit = {
      if (n < r) {
        ks(n) = s; id(n) = i; cs(n) = c; n += 1
        if (n == r) refreshWorst()
      } else if (s > ks(wi) || (s == ks(wi) && i < id(wi))) {
        ks(wi) = s; id(wi) = i; cs(wi) = c; refreshWorst()
      }
    }
    private def refreshWorst(): Unit = {
      var w = 0; var j = 1
      while (j < n) {
        if (ks(j) < ks(w) || (ks(j) == ks(w) && id(j) > id(w))) w = j
        j += 1
      }
      wi = w
    }
    def foreach(f: (Double, Long, Double) => Unit): Unit = {
      var j = 0
      while (j < n) { f(ks(j), id(j), cs(j)); j += 1 }
    }
  }

  /** Asymmetric-candidate generation + exact cosine rerank in one
    * corpus pass. Returns (qid, vec_id, asym, score, rank). */
  def asymTopK(corpus: DataFrame, queries: DataFrame, k: Int, r: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val qs: Array[(Long, Array[Double], Double)] = queries
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .collect()
      .map { row =>
        val v = row.getSeq[Double](1).toArray
        var nq = 0.0; var i = 0
        while (i < v.length) { nq += v(i) * v(i); i += 1 }
        (row.getLong(0), v, math.sqrt(nq))
      }
    require(qs.length <= Knn.MaxBroadcastQueries,
      s"query set over ${Knn.MaxBroadcastQueries}: chunk the queries")
    val bq = spark.sparkContext.broadcast(qs)

    val src = corpus.select(col("vec_id").cast("long"),
      col("embedding").cast(ArrayType(DoubleType)))
    val partialsRdd = src.queryExecution.toRdd.mapPartitions { it =>
      val queries = bq.value
      val nq = queries.length
      val luts = queries.map(q => asymLut(q._2))
      val heaps = Array.fill(nq)(new ScoredTopR(r))
      it.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val id = row.getLong(0)
          val v = row.getArray(1).toDoubleArray()
          val code = signCode(v)
          var cn = -1.0
          var qi = 0
          while (qi < nq) {
            val s = asymScore(code, luts(qi))
            if (heaps(qi).wouldAccept(s, id)) {
              if (cn < 0.0) {
                var t = 0.0; var i = 0
                while (i < v.length) { t += v(i) * v(i); i += 1 }
                cn = math.sqrt(t)
              }
              val qv = queries(qi)._2
              val d = math.min(v.length, qv.length)
              var dot = 0.0; var i = 0
              while (i < d) { dot += v(i) * qv(i); i += 1 }
              heaps(qi).offer(s, id, dot / (cn * queries(qi)._3))
            }
            qi += 1
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
      var qi = 0
      while (qi < nq) {
        val qid = queries(qi)._1
        heaps(qi).foreach((s, id, c) => out += ((qid, id, s, c)))
        qi += 1
      }
      out.iterator
    }
    val partials = spark.createDataset(partialsRdd)
      .toDF("qid", "vec_id", "asym", "score")

    val aw = Window.partitionBy("qid").orderBy(col("asym").desc, col("vec_id").asc)
    val sw = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)
    partials
      .withColumn("ar", row_number().over(aw)).filter(col("ar") <= r).drop("ar")
      .withColumn("rank", row_number().over(sw)).filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("asym"), col("score"),
        col("rank").cast("int"))
      .orderBy("qid", "rank")
  }

  /** Materialized sign codes — the column a deployment persists next
    * to (or instead of) the float embedding: 8 bytes/row at 64 dims. */
  def codes(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val src = corpus.select(col("vec_id").cast("long"),
      col("embedding").cast(ArrayType(DoubleType)))
    val rdd = src.queryExecution.toRdd.mapPartitions { it =>
      it.flatMap { row =>
        if (row.isNullAt(0) || row.isNullAt(1)) Iterator.empty
        else Iterator.single(
          (row.getLong(0), signCode(row.getArray(1).toDoubleArray()).toSeq))
      }
    }
    spark.createDataset(rdd).toDF("vec_id", "code")
  }

  /** Two-stage at-rest formulation of the asymmetric search: the
    * candidate scan reads ONLY the materialized code column (8 bytes +
    * id per row — a 64× narrower read than the float vectors), then
    * the R survivors per query (q·R rows) broadcast back onto the
    * corpus scan and rerank through Knn.rerank. Bit-equal to the
    * one-pass asymTopK (spec'd): the candidate order and the cosine
    * arithmetic are the same; only WHERE the exact cosine is computed
    * moves. */
  def asymTopKCoded(coded: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, r: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val qs: Array[(Long, Array[Double])] = queries
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .collect()
      .map(row => (row.getLong(0), row.getSeq[Double](1).toArray))
    val bq = spark.sparkContext.broadcast(qs)

    // Stage 1: code-only candidate scan (no float vectors touched).
    val src = coded.select(col("vec_id").cast("long"), col("code"))
    val partialsRdd = src.queryExecution.toRdd.mapPartitions { it =>
      val queries = bq.value
      val nq = queries.length
      val luts = queries.map(q => asymLut(q._2))
      val heaps = Array.fill(nq)(new ScoredTopR(r))
      it.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val id = row.getLong(0)
          val code = row.getArray(1).toLongArray()
          var qi = 0
          while (qi < nq) {
            val s = asymScore(code, luts(qi))
            if (heaps(qi).wouldAccept(s, id)) heaps(qi).offer(s, id, 0.0)
            qi += 1
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var qi = 0
      while (qi < nq) {
        val qid = queries(qi)._1
        heaps(qi).foreach((s, id, _) => out += ((qid, id, s)))
        qi += 1
      }
      out.iterator
    }
    val partials = spark.createDataset(partialsRdd).toDF("qid", "vec_id", "asym")
    val aw = Window.partitionBy("qid").orderBy(col("asym").desc, col("vec_id").asc)
    val cand = partials
      .withColumn("ar", row_number().over(aw)).filter(col("ar") <= r).drop("ar")

    // Stage 2: the survivors broadcast back onto the embedding scan
    Knn.rerankOnto(corpus, cand, qs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("qid", "qv"), k)
      .select(col("qid"), col("vec_id"), col("asym"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  def knnBinaryAsym(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    asymTopK(emb, emb.filter(col("vec_id") < VectorSearch.NQueries),
      VectorSearch.K, RerankR)
  }

  /** Byte-blocked ±q sum — same parenthesization as asymLut/asymScore:
    * groups of 8 terms (j-ascending inside), groups folded b-ascending. */
  private[graft] def asymSql(q: String, e: String, dim: Int = OracleSql.Dim): String =
    (0 until (dim + 7) / 8).map { b =>
      (8 * b + 1 to math.min(8 * b + 8, dim)).map { i =>
        s"(CASE WHEN CAST($e[$i] AS DOUBLE) >= 0 THEN CAST($q[$i] AS DOUBLE) ELSE -CAST($q[$i] AS DOUBLE) END)"
      }.mkString("(", " + ", ")")
    }.mkString("(", " + ", ")")

  val knnBinaryAsymSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv,
       |    ${OracleSql.norm("embedding")} AS qn
       |  FROM embeddings WHERE vec_id < ${VectorSearch.NQueries}),
       |h AS (SELECT q.qid, e.vec_id,
       |    ${asymSql("q.qv", "e.embedding")} AS asym,
       |    ${OracleSql.dot("e.embedding", "q.qv")}
       |      / (${OracleSql.norm("e.embedding")} * q.qn) AS score
       |  FROM q CROSS JOIN embeddings e),
       |c AS (SELECT *, row_number() OVER
       |    (PARTITION BY qid ORDER BY asym DESC, vec_id ASC) AS ar FROM h)
       |SELECT qid, vec_id, asym, score, CAST(rnk AS INT) AS "rank"
       |FROM (SELECT qid, vec_id, asym, score, row_number() OVER
       |        (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |      FROM c WHERE ar <= $RerankR)
       |WHERE rnk <= ${VectorSearch.K} ORDER BY qid, rnk""".stripMargin

  /** Hamming-candidate generation + exact cosine rerank in one corpus
    * pass. Returns (qid, vec_id, hamming, score, rank), rank 1..k. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int, r: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val qs: Array[(Long, Array[Double], Double, Array[Long])] = queries
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .collect()
      .map { row =>
        val v = row.getSeq[Double](1).toArray
        var nq = 0.0; var i = 0
        while (i < v.length) { nq += v(i) * v(i); i += 1 }
        (row.getLong(0), v, math.sqrt(nq), signCode(v))
      }
    require(qs.length <= Knn.MaxBroadcastQueries,
      s"query set over ${Knn.MaxBroadcastQueries}: chunk the queries")
    val bq = spark.sparkContext.broadcast(qs)

    // InternalRow scan (queryExecution.toRdd): bulk toDoubleArray per
    // row instead of a boxed Seq[Double] per row — the same
    // deserialization tax the custom VectorTopK plan avoids (measured
    // ~12× on this operator at 1M rows: 3.6 s → 0.3 s). The child is
    // still a planned DataFrame, so column pruning and filter pushdown
    // reach the scan as usual.
    val src = corpus.select(col("vec_id").cast("long"),
      col("embedding").cast(ArrayType(DoubleType)))
    val partialsRdd = src.queryExecution.toRdd.mapPartitions { it =>
      val queries = bq.value
      val nq = queries.length
      val heaps = Array.fill(nq)(new HammingTopR(r))
      it.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val id = row.getLong(0)
          val v = row.getArray(1).toDoubleArray()
          val code = signCode(v)
          var cn = -1.0 // corpus norm, computed lazily on first acceptance
          var qi = 0
          while (qi < nq) {
            val h = hamming(code, queries(qi)._4)
            if (heaps(qi).wouldAccept(h, id)) {
              if (cn < 0.0) {
                var s = 0.0; var i = 0
                while (i < v.length) { s += v(i) * v(i); i += 1 }
                cn = math.sqrt(s)
              }
              val qv = queries(qi)._2
              val d = math.min(v.length, qv.length)
              var dot = 0.0; var i = 0
              while (i < d) { dot += v(i) * qv(i); i += 1 }
              heaps(qi).offer(h, id, dot / (cn * queries(qi)._3))
            }
            qi += 1
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
      var qi = 0
      while (qi < nq) {
        val qid = queries(qi)._1
        heaps(qi).foreach((h, id, c) => out += ((qid, id, h, c)))
        qi += 1
      }
      out.iterator
    }
    val partials = spark.createDataset(partialsRdd)
      .toDF("qid", "vec_id", "hamming", "score")

    // Global candidate cut by the Hamming key, then exact rerank among
    // the survivors — both windows deterministic via the id tiebreak.
    val hw = Window.partitionBy("qid").orderBy(col("hamming").asc, col("vec_id").asc)
    val sw = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)
    partials
      .withColumn("hr", row_number().over(hw)).filter(col("hr") <= r).drop("hr")
      .withColumn("rank", row_number().over(sw)).filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("hamming").cast("int"),
        col("score"), col("rank").cast("int"))
      .orderBy("qid", "rank")
  }

  def knnBinary(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    binaryTopK(emb, emb.filter(col("vec_id") < VectorSearch.NQueries),
      VectorSearch.K, RerankR)
  }

  /** Integer sign-mismatch sum — the unrolled SQL mirror of
    * hamming(signCode(a), signCode(b)). */
  private def hammingSql(a: String, b: String, dim: Int = OracleSql.Dim): String =
    (1 to dim).map { i =>
      s"(CASE WHEN (CAST($a[$i] AS DOUBLE) >= 0) <> (CAST($b[$i] AS DOUBLE) >= 0) THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")

  val knnBinarySql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv,
       |    ${OracleSql.norm("embedding")} AS qn
       |  FROM embeddings WHERE vec_id < ${VectorSearch.NQueries}),
       |h AS (SELECT q.qid, e.vec_id,
       |    ${hammingSql("q.qv", "e.embedding")} AS hamming,
       |    ${OracleSql.dot("e.embedding", "q.qv")}
       |      / (${OracleSql.norm("e.embedding")} * q.qn) AS score
       |  FROM q CROSS JOIN embeddings e),
       |c AS (SELECT *, row_number() OVER
       |    (PARTITION BY qid ORDER BY hamming ASC, vec_id ASC) AS hr FROM h)
       |SELECT qid, vec_id, CAST(hamming AS INT) AS hamming, score,
       |  CAST(rnk AS INT) AS "rank"
       |FROM (SELECT qid, vec_id, hamming, score, row_number() OVER
       |        (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |      FROM c WHERE hr <= $RerankR)
       |WHERE rnk <= ${VectorSearch.K} ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------
  // ivf_binary — the composed 100 TB serving stack in one query:
  // IVF centroid routing prunes to nprobe/nlist of the partitions,
  // the candidate score inside probed buckets is the 1-bit asymmetric
  // sign-dot (at rest: reads the 8-byte code column, 64× narrower than
  // the floats — the one-pass graded form computes signs inline), and
  // only the asym top-R survivors per query pay the exact cosine
  // (Knn.rerank). Combined read reduction at scale: (nprobe/nlist) ×
  // (1/64) of the brute-force float scan, with the float kernel on q·R
  // rows only.
  // AsymSignDotD is whole-stage-codegen'd; the routed probes and query
  // vectors (IvfIndex.route) join as plan literals, so the corpus never
  // shuffles and neither side is a Spark job.
  // ---------------------------------------------------------------

  val IvfNlist = 16
  val IvfNprobe = 4

  def ivfBinary(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
    val centroids = IvfIndex.centroidsFor(s, dir, IvfNlist)
    ivfBinaryOn(emb, queries, centroids, VectorSearch.K, RerankR, IvfNprobe)
  }

  def ivfBinaryOn(corpus: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], k: Int, r: Int, nprobe: Int): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val (probes, qv) = IvfIndex.route(queries)(IvfIndex.nearestN(centroids, _, nprobe))
    val aw = Window.partitionBy("qid").orderBy(col("asym").desc, col("vec_id").asc)
    val survivors = graft.Mat.joinLocal(graft.Mat.joinLocal(IvfIndex.assign(corpus, centroids),
        probes.toDF("qid", "centroid"), "centroid"), qv, "qid")
      .withColumn("asym",
        graft.functions.VectorOps.asymSignDot(col("embedding"), col("qv")))
      .withColumn("ar", row_number().over(aw)).filter(col("ar") <= r)
      .drop("ar", "qv")
    Knn.rerank(survivors, qv, k)
      .select(col("qid"), col("vec_id"), col("asym"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** ivf_binary with the codes PERSISTED in the index layout (the
    * at-rest composition the coded formulation exists for): the
    * assigned corpus is written partitioned by centroid with a
    * `code` column (SignCodeL — 8 bytes per 64 dims) next to the
    * float embedding, reloaded, and probed in two stages — the
    * candidate stage reads ONLY (vec_id, code) inside the probed
    * partitions (explicit `centroid IN` partition predicate + parquet
    * column pruning: the float column is never decoded for the
    * (nprobe/nlist)-bucket candidate scan, a 64× narrower read at
    * 64-d), then the q·R survivors broadcast back onto the float
    * column of the same pruned partitions and rerank through
    * Knn.rerank.
    * Bit-equal to the in-memory ivf_binary (same centroids, same
    * asym association — AsymCodeDotD mirrors AsymSignDotD byte
    * blocking), so the SAME SQL twin grades both. */
  def ivfBinaryCoded(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
    val centroids = IvfIndex.centroidsFor(s, dir, IvfNlist)
    graft.Mat.withScratchDirs("ivf_coded") { case Seq(out) =>
      writeCodedLayout(emb, centroids, out)
      graft.Mat.detach(ivfBinaryCodedProbe(s.read.parquet(out), queries,
        centroids, VectorSearch.K, RerankR, IvfNprobe))
    }
  }

  /** Write the centroid-partitioned layout carrying (vec_id, embedding,
    * code): assignment and sign-coding are one projection over the
    * corpus scan — no shuffle beyond the partitioned write itself. */
  def writeCodedLayout(corpus: DataFrame, centroids: Array[Array[Double]],
      dir: String): Unit =
    IvfIndex.assign(corpus, centroids)
      .withColumn("code", graft.functions.VectorOps.signCode(col("embedding")))
      .write.partitionBy("centroid").mode("overwrite").parquet(dir)

  /** Stage 1 over a loaded coded layout: the code-only candidate scan.
    * Exposed so the spec can pin its plan (PartitionFilters on
    * centroid; ReadSchema without the embedding column). A driver-local
    * probe set or query-vector table joins as a plan literal
    * (Mat.joinLocal); any other broadcasts. */
  def codedCandidates(loaded: DataFrame, probeDf: DataFrame,
      probedCentroids: Seq[Int], qv: DataFrame): DataFrame =
    graft.Mat.joinLocal(graft.Mat.joinLocal(
        loaded.filter(col("centroid").isin(probedCentroids: _*))
          .select(col("vec_id"), col("code"), col("centroid")),
        probeDf, "centroid"), qv, "qid")
      .withColumn("asym",
        graft.functions.VectorOps.asymCodeDot(col("code"), col("qv")))

  def ivfBinaryCodedProbe(loaded: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], k: Int, r: Int, nprobe: Int): DataFrame = {
    val (probes, qv) = IvfIndex.route(queries)(IvfIndex.nearestN(centroids, _, nprobe))
    ivfBinaryCodedPlan(loaded, probes, qv, k, r).orderBy("qid", "rank")
  }

  /** The coded-probe dataflow GIVEN the routed (qid, centroid) probe
    * set — pure plan construction, no action: code-only candidate scan
    * in the probed partitions, asym cut at `r`, then the survivors
    * broadcast back onto the float column of the same pruned partitions
    * and rerank through Knn.rerank. Split out so the composed serving
    * stack (serve_e2e) can pin that building the full request plan
    * after routing launches zero Spark jobs.
    *
    * Budget per request: two exchanges — the per-qid asym top-R cut
    * over the probed code partitions and Knn.rerank's per-qid score
    * top-k cut over the survivors, both over inputs that grow with the
    * corpus, so both stay parallel — plus one broadcast, the q·R
    * survivors; the corpus-sized side never shuffles. The probe set (a
    * local relation) and a driver-local query-vector table join as plan
    * literals (Mat.joinLocal) and cost no job; query vectors read off a
    * table broadcast instead. The asym window is evaluated ONCE:
    * `vec_id` keys the layout, so the broadcast join onto `top` alone
    * keeps exactly the survivors. The rows come back UNORDERED: a
    * caller that unions or fuses them would throw a sort away, so only
    * ivfBinaryCodedProbe, whose result is the standalone answer, sorts. */
  def ivfBinaryCodedPlan(loaded: DataFrame, probes: Seq[(Long, Int)],
      qv: DataFrame, k: Int, r: Int): DataFrame = {
    val s = loaded.sparkSession
    import s.implicits._
    val probedCentroids = probes.map(_._2).distinct.sorted
    val probeDf = probes.toDF("qid", "centroid")

    val aw = Window.partitionBy("qid").orderBy(col("asym").desc, col("vec_id").asc)
    val top = codedCandidates(loaded, probeDf, probedCentroids, qv)
      .withColumn("ar", row_number().over(aw)).filter(col("ar") <= r)
      .select(col("qid"), col("vec_id"), col("asym"))
    Knn.rerankOnto(loaded.filter(col("centroid").isin(probedCentroids: _*)), top, qv, k)
      .select(col("qid"), col("vec_id"), col("asym"), col("score"), col("rank"))
  }

  /** ivfSql's probe selection composed with the byte-blocked asym
    * candidate cut and the exact-cosine rerank. Shared with the
    * streaming coded serve (stream_ivf_coded), whose graded output is
    * the same pipeline with the candidate stage incremental. */
  private[graft] def ivfBinarySql(centroids: Array[Array[Double]]): String = {
    val nq = VectorSearch.NQueries; val k = VectorSearch.K
    val nlist = centroids.length
    s"""WITH d AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${OracleSql.distList("embedding", centroids)} AS dl
       |  FROM embeddings),
       |a AS (SELECT vec_id, embedding,
       |      CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS centroid FROM d),
       |pe AS (SELECT vec_id AS qid, unnest(dl) AS dist, unnest(range(0, $nlist)) AS c
       |       FROM d WHERE vec_id < $nq),
       |pr AS (SELECT qid, c FROM (
       |   SELECT qid, c, row_number() OVER (PARTITION BY qid ORDER BY dist ASC, c ASC) AS rn
       |   FROM pe) WHERE rn <= $IvfNprobe),
       |q AS (SELECT e.vec_id AS qid, e.embedding AS qv,
       |      ${OracleSql.norm("e.embedding")} AS qn
       |      FROM embeddings e WHERE e.vec_id < $nq),
       |c0 AS (SELECT p.qid, e.vec_id,
       |        ${asymSql("q.qv", "e.embedding")} AS asym,
       |        ${OracleSql.dot("q.qv", "e.embedding")}
       |          / (${OracleSql.norm("e.embedding")} * q.qn) AS score
       |      FROM pr p JOIN a e ON e.centroid = p.c JOIN q ON q.qid = p.qid),
       |c1 AS (SELECT *, row_number() OVER
       |        (PARTITION BY qid ORDER BY asym DESC, vec_id ASC) AS ar FROM c0)
       |SELECT qid, vec_id, asym, score, CAST(rnk AS INT) AS "rank"
       |FROM (SELECT qid, vec_id, asym, score, row_number() OVER
       |        (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |      FROM c1 WHERE ar <= $RerankR)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_binary" -> (knnBinary _),
    "knn_binary_asym" -> (knnBinaryAsym _),
    "ivf_binary" -> (ivfBinary _),
    "ivf_binary_coded" -> (ivfBinaryCoded _))

  def oracles: Map[String, graft.OracleSql.Twin] =
    graft.OracleSql.fixed(Map(
      "knn_binary" -> knnBinarySql,
      "knn_binary_asym" -> knnBinaryAsymSql)) ++
    Map[String, graft.OracleSql.Twin](
      ("ivf_binary", (s, d) => ivfBinarySql(IvfIndex.centroidsFor(s, d, IvfNlist))),
      ("ivf_binary_coded", (s, d) => ivfBinarySql(IvfIndex.centroidsFor(s, d, IvfNlist))))
}
