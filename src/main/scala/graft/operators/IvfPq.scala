package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.Tables

/** IVF-PQ: the standard billion-scale ANN layout (Jégou et al., PAMI
  * 2011 — "Product Quantization for Nearest Neighbor Search"), composed
  * from the two reference capabilities this engine already re-expresses
  * (hnsw-role ANN routing, vector_index.py:64-105 index_type handling;
  * product quantization, quantization.py:28-124):
  *
  *   route (IVF centroids) → encode RESIDUAL v − c(v) with PQ →
  *   probe nprobe buckets → per-bucket ADC over 1-byte codes →
  *   exact re-rank of the top k·refine
  *
  * Residual encoding matters: residuals concentrate near 0, so one
  * shared codebook quantizes them far better than raw vectors — this
  * is what makes 8 bytes/vector workable at scale. At rest the codes
  * live with the bucket (partitioned by centroid → partition pruning);
  * per (query, bucket) the LUT is [m×k] floats, and scanning a
  * candidate costs m byte-indexed lookups instead of a dim-wide float
  * scan.
  *
  * Everything after training is deterministic arithmetic, so the
  * DuckDB oracle (centroids + codebooks from the catalogued model
  * embedded as literals, as in IvfIndex/ProductQuant) recomputes the ENTIRE
  * pipeline — routing, residuals, encoding, ADC, candidate cut,
  * re-rank — independently, bit-exact.
  */
object IvfPq {
  val NList = 16
  val NProbe = 4
  val M = 8
  val Kcb = 16
  val Refine = 4

  case class Model(centroids: Array[Array[Double]], cb: ProductQuant.Codebooks)

  def trainModel(sample: Array[Array[Double]], nlist: Int = NList,
                 m: Int = M, k: Int = Kcb): Model =
    modelOver(sample, IvfIndex.trainCentroids(sample, nlist, 10), m, k)

  /** The corpus model: the shared corpus codebook (IvfIndex.centroidsFor)
    * plus residual PQ codebooks over the same training sample — built
    * once per `embeddings` content (graft.Catalog), shared by the
    * graded keys, the streaming coded serve and their twins. */
  def modelFor(s: SparkSession, dir: String): Model =
    graft.Catalog.getOrBuild("ivfpq.model", s, dir, Seq("embeddings")) {
      modelOver(IvfIndex.trainSample(Tables.load(s, dir, "embeddings")),
        IvfIndex.centroidsFor(s, dir, NList), M, Kcb)
    }

  private def modelOver(sample: Array[Array[Double]],
      centroids: Array[Array[Double]], m: Int, k: Int): Model = {
    val residuals = sample.map { v =>
      val c = centroids(IvfIndex.nearest(centroids, v))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    Model(centroids, ProductQuant.train(residuals, m, k))
  }

  def search(corpus: DataFrame, queries: DataFrame, k: Int,
             model: Model, nprobe: Int = NProbe, refine: Int = Refine): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bm = spark.sparkContext.broadcast(model)

    // encode once: bucket + residual PQ codes per corpus row (the
    // at-rest layout; codes are 1 byte each, bucket is the partition key)
    val coded = corpus
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val mdl = bm.value
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          val b = IvfIndex.nearest(mdl.centroids, v)
          val ctr = mdl.centroids(b)
          val res = Array.tabulate(v.length)(i => v(i) - ctr(i))
          (id, b, ProductQuant.encode(mdl.cb, res).toSeq)
        }
      }.toDF("vec_id", "bucket", "codes")

    val qRows = queries.select(col("vec_id").cast("long"),
      col("embedding").cast(ArrayType(DoubleType))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bq = spark.sparkContext.broadcast(qRows)

    val nCand = k * refine
    // per (query, probed bucket): residual LUT; scan that bucket's codes
    val partials = coded.as[(Long, Int, Seq[Int])]
      .mapPartitions { it =>
        val mdl = bm.value
        val qs = bq.value
        val probes: Map[Long, Array[Int]] = qs.map { case (qid, qv) =>
          qid -> IvfIndex.nearestN(mdl.centroids, qv, NProbe)
        }.toMap
        // LUT keyed by (query index, bucket): lut(s)(code) over residual q − centroid_b
        val lutCache = scala.collection.mutable.HashMap.empty[(Int, Int), Array[Array[Double]]]
        def lut(qi: Int, b: Int): Array[Array[Double]] =
          lutCache.getOrElseUpdate((qi, b), {
            val qv = qs(qi)._2
            val ctr = mdl.centroids(b)
            val qres = Array.tabulate(qv.length)(i => qv(i) - ctr(i))
            Array.tabulate(mdl.cb.m, mdl.cb.books(0).length) { (s, code) =>
              val cc = mdl.cb.books(s)(code)
              var d = 0.0; var i = 0
              while (i < mdl.cb.subDim) {
                val df = qres(s * mdl.cb.subDim + i) - cc(i); d += df * df; i += 1
              }
              d
            }
          })
        // bounded primitive bottom-k per query (see plans.BottomKPrim
        // — same worst-slot rule as the boxed PQ it replaces)
        val heaps = Array.fill(qs.length)(new graft.plans.BottomKPrim(nCand))
        it.foreach { case (id, b, codes) =>
          var qi = 0
          while (qi < qs.length) {
            if (probes(qs(qi)._1).contains(b)) {
              val l = lut(qi, b)
              var d = 0.0; var s = 0
              while (s < mdl.cb.m) { d += l(s)(codes(s)); s += 1 }
              heaps(qi).offer(d, id)
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          val qid = bq.value(qi)._1
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          h.foreach((d, id) => out += ((qid, id, d)))
          out.iterator
        }
      }.toDF("qid", "vec_id", "adc")

    val wAdc = Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id").asc)
    val cand = partials.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= nCand).select("qid", "vec_id")
    Knn.rerankOnto(corpus, cand, Knn.queryVectors(queries), k)
      .select("qid", "vec_id", "score", "rank")
      .orderBy("qid", "rank")
  }

  def ivfpqSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    search(emb, emb.filter(col("vec_id") < VectorSearch.NQueries), VectorSearch.K,
      modelFor(s, dir))
  }

  // ---------------------------------------------- at-rest coded layout

  /** Pack m ≤ 8 PQ codes (k ≤ 256 → 8 bits each) into ONE long,
    * subspace 0 in the low byte. A FLAT parquet column decodes several
    * times cheaper than a nested list<int>, and at m=8 the whole
    * per-vector candidate payload is literally one 8-byte word — the
    * same at-rest shape as the 1-bit sign-code layout one tier down. */
  def packCodes(codes: Array[Int]): Long = {
    require(codes.length <= 8, s"packCodes supports m<=8, got ${codes.length}")
    var w = 0L; var s = 0
    while (s < codes.length) { w |= (codes(s).toLong & 0xffL) << (8 * s); s += 1 }
    w
  }

  /** Write the centroid-partitioned IVF-PQ index layout: one routing
    * pass assigns the bucket and encodes the residual PQ codes — m
    * one-byte codes packed into a single long (`code`), the only
    * per-vector payload the candidate stage ever needs — written next
    * to the embedding so the rerank stage can point-read the float
    * column of the same pruned partitions. No shuffle beyond the
    * partitioned write itself. */
  /** The encode projection behind the layout write: (vec_id, packed
    * code, embedding, centroid) — exposed so ingest-shaped appends and
    * specs can route slices through the identical encode path. */
  def encodePq(corpus: DataFrame, model: Model): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bm = spark.sparkContext.broadcast(model)
    corpus.select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val mdl = bm.value
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          val b = IvfIndex.nearest(mdl.centroids, v)
          val ctr = mdl.centroids(b)
          val res = Array.tabulate(v.length)(i => v(i) - ctr(i))
          (id, packCodes(ProductQuant.encode(mdl.cb, res)), vSeq, b)
        }
      }.toDF("vec_id", "code", "embedding", "centroid")
  }

  def writeCodedPqLayout(corpus: DataFrame, model: Model, dir: String): Unit =
    encodePq(corpus, model)
      .write.partitionBy("centroid").mode("overwrite").parquet(dir)

  /** Stage 1 over a loaded coded layout: the code-only ADC candidate
    * scan. probeDf carries one row per (query, probed bucket) WITH that
    * pair's residual ADC LUT ([m × k] doubles — query-sized, broadcast);
    * the scan reads ONLY (vec_id, code) — one flat long per vector —
    * inside the probed partitions, and scores each candidate with m
    * shift-extracted LUT lookups folded left-to-right in subspace
    * order (codegen HOFs — the same association as the in-memory
    * kernel and the SQL twin's unrolled sum). Exposed so the spec can
    * pin the plan (PartitionFilters on centroid; ReadSchema without
    * the embedding column). */
  def pqCodedCandidates(loaded: DataFrame, probeDf: DataFrame,
      probedCentroids: Seq[Int]): DataFrame =
    loaded.filter(col("centroid").isin(probedCentroids: _*))
      .select(col("vec_id"), col("code"), col("centroid"))
      .join(broadcast(probeDf), "centroid")
      .withColumn("adc", expr(
        "aggregate(sequence(0, size(lut) - 1), cast(0.0 as double), " +
          "(a, s) -> a + lut[s][int(shiftright(code, 8 * s) & 255)])"))

  /** IVF-PQ probe over the at-rest layout: candidate generation reads
    * codes only (m bytes/vector instead of 4·dim — a 32× narrower scan
    * at 64-d float32), the (adc, vec_id)-ordered top k·refine broadcast
    * back onto the float column of the same pruned partitions and
    * reranked through Knn.rerank. Bit-equal to the in-memory `search` (same
    * trained model, same LUT arithmetic and association, same candidate
    * cut and rerank ordering), so the SAME SQL twin grades both. */
  def ivfpqCodedProbe(loaded: DataFrame, queries: DataFrame, model: Model,
      k: Int, nprobe: Int = NProbe, refine: Int = Refine): DataFrame = {
    val s = loaded.sparkSession
    val qRows = queries.select(col("vec_id").cast("long"),
      col("embedding").cast(ArrayType(DoubleType))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // per (query, probed bucket): the residual LUT, exactly as the
    // in-memory kernel builds it (same tabulate order and arithmetic)
    val probes = qRows.flatMap { case (qid, qv) =>
      IvfIndex.nearestN(model.centroids, qv, nprobe).map { b =>
        val ctr = model.centroids(b)
        val qres = Array.tabulate(qv.length)(i => qv(i) - ctr(i))
        val lut = Array.tabulate(model.cb.m, model.cb.books(0).length) { (sub, code) =>
          val cc = model.cb.books(sub)(code)
          var d = 0.0; var i = 0
          while (i < model.cb.subDim) {
            val df = qres(sub * model.cb.subDim + i) - cc(i); d += df * df; i += 1
          }
          d
        }
        (qid, b, lut.map(_.toSeq).toSeq)
      }
    }
    val probedCentroids = probes.map(_._2).distinct.sorted.toSeq
    import s.implicits._
    val probeDf = probes.toSeq.toDF("qid", "centroid", "lut")

    val nCand = k * refine
    val aw = Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id").asc)
    val cand = pqCodedCandidates(loaded, probeDf, probedCentroids)
      .withColumn("rn", row_number().over(aw)).filter(col("rn") <= nCand)
      .select("qid", "vec_id")

    Knn.rerankOnto(loaded.filter(col("centroid").isin(probedCentroids: _*)), cand,
        Knn.queryVectors(queries), k)
      .select("qid", "vec_id", "score", "rank")
      .orderBy("qid", "rank")
  }

  def ivfpqCoded(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val model = modelFor(s, dir)
    graft.Mat.withScratchDirs("ivfpq_coded") { case Seq(out) =>
      writeCodedPqLayout(emb, model, out)
      graft.Mat.detach(ivfpqCodedProbe(s.read.parquet(out),
        emb.filter(col("vec_id") < VectorSearch.NQueries), model, VectorSearch.K))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("ivfpq_search" -> (ivfpqSearch _),
        "ivfpq_coded" -> (ivfpqCoded _))

  // ------------------------------------------------------------ oracle
  /** Full-pipeline SQL twin from the catalogued model's literals:
    * route (argmin over centroid distances), residual, encode (argmin
    * per subspace over residual-centroid distances), per-(query,bucket)
    * residual LUTs, ADC sum in subspace order, (adc, vec_id)-ordered
    * candidate cut, exact cosine re-rank. */
  private def ivfpqSql(mdl: Model): String = {
    import graft.OracleSql
    val nq = VectorSearch.NQueries; val k = VectorSearch.K
    val nCand = k * Refine
    val nlist = mdl.centroids.length
    val dim = mdl.cb.m * mdl.cb.subDim
    val subDim = mdl.cb.subDim
    // the [nlist × dim] centroid matrix as ONE literal, indexed by the
    // computed bucket — keeps the generated SQL compact
    val ctrs = mdl.centroids
      .map(c => c.map(OracleSql.dlit).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    // encode: dl_s over residual-list elements vs PQ centroid literals
    val dls = (0 until mdl.cb.m).map { s =>
      val dl = mdl.cb.books(s).map { c =>
        (0 until subDim).map { jj =>
          val j = s * subDim + jj
          val t = s"(res[${j + 1}]-${OracleSql.dlit(c(jj))})"
          s"$t*$t"
        }.mkString("(", " + ", ")")
      }.mkString("[", ", ", "]")
      s"$dl AS dl$s"
    }.mkString(",\n  ")
    val ks = (0 until mdl.cb.m).map(s =>
      s"CAST(list_position(dl$s, list_min(dl$s)) - 1 AS INT) AS k$s").mkString(",\n  ")
    // query-side LUTs over the per-(query, probed-bucket) residual list
    val lls = (0 until mdl.cb.m).map { s =>
      val ll = mdl.cb.books(s).map { c =>
        (0 until subDim).map { jj =>
          val j = s * subDim + jj
          val t = s"(qres[${j + 1}]-${OracleSql.dlit(c(jj))})"
          s"$t*$t"
        }.mkString("(", " + ", ")")
      }.mkString("[", ", ", "]")
      s"$ll AS ll$s"
    }.mkString(",\n  ")
    val adcSum = (0 until mdl.cb.m).map(s => s"l.ll$s[e.k$s + 1]").mkString("(", " + ", ")")
    s"""WITH da AS (
       |  SELECT vec_id, embedding, ${OracleSql.distList("embedding", mdl.centroids)} AS bdl
       |  FROM embeddings),
       |asg AS (SELECT vec_id, embedding,
       |        CAST(list_position(bdl, list_min(bdl)) - 1 AS INT) AS bucket FROM da),
       |res AS (SELECT vec_id, bucket,
       |        list_transform(range(1, ${dim + 1}),
       |          j -> CAST(embedding[j] AS DOUBLE) - ($ctrs)[bucket + 1][j]) AS res
       |        FROM asg),
       |enc AS MATERIALIZED (SELECT vec_id, bucket,
       |  $ks
       |  FROM (SELECT vec_id, bucket,
       |  $dls
       |  FROM res)),
       |qp AS (SELECT vec_id AS qid, embedding AS qv, bdl FROM da WHERE vec_id < $nq),
       |pr AS (SELECT qid, c FROM (
       |   SELECT qid, unnest(bdl) AS dist, unnest(range(0, $nlist)) AS c FROM qp) t0
       |   QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dist ASC, c ASC) <= $NProbe),
       |qres AS (SELECT p.qid, p.c,
       |        list_transform(range(1, ${dim + 1}),
       |          j -> CAST(qp.qv[j] AS DOUBLE) - ($ctrs)[p.c + 1][j]) AS qres
       |        FROM pr p JOIN qp ON qp.qid = p.qid),
       |luts AS MATERIALIZED (SELECT qid, c,
       |  $lls
       |  FROM qres),
       |ad AS (SELECT l.qid, e.vec_id, $adcSum AS adc
       |       FROM luts l JOIN enc e ON e.bucket = l.c),
       |cand AS (SELECT qid, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
       |  FROM ad) WHERE rn <= $nCand),
       |nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |        FROM embeddings),
       |s AS (SELECT c.qid, c.vec_id,
       |        ${OracleSql.dot("e.embedding", "q.embedding")} / (n.nm * nq2.nm) AS score
       |      FROM cand c
       |      JOIN embeddings e ON e.vec_id = c.vec_id
       |      JOIN nrm n ON n.vec_id = c.vec_id
       |      JOIN embeddings q ON q.vec_id = c.qid
       |      JOIN nrm nq2 ON nq2.vec_id = c.qid)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }

  // the coded probe is bit-equal to the in-memory pipeline from the
  // same model, so the same full-pipeline twin grades it
  def oracles: Map[String, graft.OracleSql.Twin] = Map[String, graft.OracleSql.Twin](
    ("ivfpq_search", (s, d) => ivfpqSql(modelFor(s, d))),
    ("ivfpq_coded", (s, d) => ivfpqSql(modelFor(s, d))))
}
