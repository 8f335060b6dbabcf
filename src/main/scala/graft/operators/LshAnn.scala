package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.Tables
import graft.functions.TextHash

/** Random-hyperplane LSH ANN (SimHash-for-vectors): the second scale
  * path for similarity search. Each vector hashes to an h-bit bucket
  * (sign of ⟨v, rᵢ⟩ for h pseudo-random hyperplanes); queries scan
  * their own bucket plus all buckets within hamming distance 2
  * (multiprobe), then rerank candidates exactly through Knn.rerank.
  *
  * The hyperplanes are derived from splitmix64 — no RNG state, fully
  * deterministic and reproducible on any executor.
  */
object LshAnn {
  val NumBits = 8

  /** Hyperplane component r[b][i] ∈ [-1, 1), deterministic. */
  def plane(bit: Int, i: Int): Double = {
    val h = TextHash.mix64(bit.toLong * 1000003L + i.toLong)
    // map top 53 bits to [0,1) then shift
    (h >>> 11) / 9007199254740992.0 * 2.0 - 1.0
  }

  def bucketOf(v: Array[Double], numBits: Int): Int = {
    var bkt = 0
    var b = 0
    while (b < numBits) {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * plane(b, i); i += 1 }
      if (dot > 0) bkt |= (1 << b)
      b += 1
    }
    bkt
  }

  def lshSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                numBits: Int = NumBits): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bucketed = corpus
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, v, bucketOf(v.toArray, numBits)) }
      .toDF("vec_id", "embedding", "bucket")

    // Multiprobe: query bucket + all hamming-≤2 neighbors (trades a
    // wider candidate set — still a small corpus fraction — for recall
    // on weakly-clustered vectors). The probes and query vectors join
    // as plan literals (Mat.joinLocal), the IVF probe's shape.
    val (probes, qv) = IvfIndex.route(queries) { v =>
      val b = bucketOf(v, numBits)
      val h1 = (0 until numBits).map(i => b ^ (1 << i))
      val h2 = for (i <- 0 until numBits; j <- (i + 1) until numBits)
        yield b ^ (1 << i) ^ (1 << j)
      (b +: (h1 ++ h2)).toArray
    }
    Knn.rerank(graft.Mat.joinLocal(bucketed, probes.toDF("qid", "bucket"), "bucket"), qv, k)
      .select("qid", "vec_id", "score", "rank")
      .orderBy("qid", "rank")
  }

  def lshBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    lshSearch(emb, emb.filter(col("vec_id") < VectorSearch.NQueries), VectorSearch.K)
  }

  /** Bit-exact SQL twin: the 8×64 hyperplane components are
    * deterministic constants (splitmix64-derived), so they are embedded
    * as double literals — no need to reproduce the mixer in SQL. Bucket
    * = 8 sign tests over left-associated double dots (same association
    * as bucketOf's loop); the multiprobe set {b} ∪ hamming-1 ∪
    * hamming-2 is exactly `bit_count(xor(qb, eb)) <= 2`; candidates
    * re-rank by the standard double cosine. */
  val lshBucketJoinSql: String = {
    import graft.OracleSql
    val nq = VectorSearch.NQueries; val k = VectorSearch.K
    val bucketExpr = (0 until NumBits).map { b =>
      val dot = (1 to OracleSql.Dim)
        .map(i => s"CAST(embedding[$i] AS DOUBLE)*${OracleSql.dlit(plane(b, i - 1))}")
        .mkString("(", " + ", ")")
      s"(CASE WHEN $dot > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |            FROM embeddings),
       |b AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
       |q AS (SELECT b.vec_id AS qid, b.embedding AS qv, b.bucket AS qb, n.nm AS qn
       |      FROM b JOIN nrm n ON b.vec_id = n.vec_id WHERE b.vec_id < $nq),
       |s AS (SELECT q.qid, e.vec_id,
       |        ${OracleSql.dot("q.qv", "e.embedding")} / (n.nm * q.qn) AS score
       |      FROM q JOIN b e ON bit_count(xor(q.qb, e.bucket)) <= 2
       |      JOIN nrm n ON e.vec_id = n.vec_id)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("lsh_bucket_join" -> (lshBucketJoin _))
  val oracles: Map[String, String] = Map("lsh_bucket_join" -> lshBucketJoinSql)
}
