package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{BinaryQuant, Bm25, IvfIndex, Knn, Mmr, ServeE2e}

/** serve_hybrid: composed serving over at-rest indexes, closed loop with
  * two clients. A request is one seeded query vector plus a seeded term
  * set (short 2-4 or long 20-40 terms: BM25's join grows with term
  * count) and runs the deployment path: IVF routing, stage 1 (BM25
  * postings probe + coded-IVF probe + RRF, one collect) and stage 2
  * (point-read of the fused ids + MMR, one collect). Its time is per-job
  * and planning overhead; the second client exposes driver contention. */
final class ServeHybrid(spark: SparkSession, work: String, seed: Long, tracer: Tracer)
    extends Workload(spark, work, seed, tracer) {
  val Docs = 10000
  val Vocab = 20000
  val Templates = 128
  /** Audited template: a long term set (the larger BM25 join). */
  val Audited: Seq[Long] = Seq(1L)
  val Clients = 2
  /** Query vectors of the first RecallQueries templates score the dense tier. */
  val RecallQueries = 128

  def sizes: Map[String, Any] = Map("docs" -> Docs, "vectors" -> Docs, "vocab" -> Vocab,
    "dim" -> Gen.Dim, "request_templates" -> Templates, "audited" -> Audited.size,
    "clients" -> Clients, "recall_queries" -> RecallQueries)

  private val docsPath = s"$work/documents.parquet"
  private val embPath = s"$work/embeddings.parquet"

  def gen(): Unit = {
    Gen.writeDocs(spark, Docs, seed, Vocab, docsPath)
    Gen.writeVectors(spark, Docs, seed, embPath)
  }

  private var centroids: Array[Array[Double]] = _
  private var idx: ServeE2e.OpenIndexes = _

  def setup(rep: Int): Unit = {
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)
    val (sparse, dense, byId) = (s"$work/bm25_$rep", s"$work/coded_$rep", s"$work/emb_by_id_$rep")
    tracer.span("Bm25.layout_build_s")(Bm25.writePostingsLayout(docs, sparse))
    centroids = tracer.span("IvfIndex.train_s")(
      IvfIndex.trainCentroids(IvfIndex.trainSample(emb), BinaryQuant.IvfNlist, 10))
    tracer.span("BinaryQuant.layout_build_s")(BinaryQuant.writeCodedLayout(emb, centroids, dense))
    tracer.span("ServeE2e.emb_by_id_build_s")(ServeE2e.writeEmbByIdLayout(emb, byId))
    idx = ServeE2e.openIndexes(spark, sparse, dense, byId)
  }

  final case class Req(qid: Long, vec: Array[Double], terms: Seq[String])

  def request(j: Long): Req = {
    val base = Gen.below(Gen.h(seed, j, 41), Docs)
    val long = j % 2 == 1
    val n = if (long) 20 + Gen.below(Gen.h(seed, j, 47), 21).toInt
            else 2 + Gen.below(Gen.h(seed, j, 47), 3).toInt
    val own = Gen.text(seed, base, Vocab).split(" ").distinct
    val extra = Iterator.from(0).map(p => Gen.word(seed, 1000000000L + j, p, Vocab))
    val terms = (own.iterator ++ extra).distinct.take(n).toSeq.sorted
    Req(j, Gen.queryNear(seed, j, base), terms)
  }

  private val QvSchema = StructType(Seq(StructField("qid", LongType),
    StructField("qv", ArrayType(DoubleType))))
  private def qvOf(r: Req): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Row(r.qid, r.vec.toSeq)), QvSchema)
  private def probesOf(r: Req): Seq[(Long, Int)] =
    IvfIndex.nearestN(centroids, r.vec, BinaryQuant.IvfNprobe).map(c => (r.qid, c)).toSeq

  /** One request: (fused list, MMR list), both collected at the driver. */
  def serve(r: Req): (Seq[Row], Seq[Row]) = {
    val probes = tracer.span("IvfIndex.route_ms")(probesOf(r))
    val fused = tracer.span("ServeE2e.stage1_ms")(ServeE2e.fusedListOnline(
      spark, idx, probes, qvOf(r), r.terms.map(t => (r.qid, t))).collect())
    val mmr = tracer.span("ServeE2e.stage2_ms")(
      ServeE2e.mmrOverFetched(spark, idx.embById, fused).collect())
    (fused.toSeq, mmr.toSeq)
  }

  private val alone = new ConcurrentHashMap[Long, (Seq[Row], Seq[Row])]()
  private val mismatches = new ConcurrentHashMap[Long, String]()
  private var recall = 0.0

  /** Audits, issued alone: stage 1 must equal Bm25.fuseRrf over the
    * independently collected BM25 and coded-IVF lists; each answer is
    * kept to compare with the same request under two clients. */
  def prepare(): Unit = {
    val reqs = Audited.map(request)
    reqs.foreach { r =>
      val res = serve(r)
      alone.put(r.qid, res)
      val qterms = spark.createDataFrame(java.util.Arrays.asList(
        r.terms.map(t => Row(r.qid, t)): _*),
        StructType(Seq(StructField("qid", LongType), StructField("word", StringType))))
      val bm = Bm25.scoreAndRank(idx.tf, idx.dl, idx.dfT, idx.tot, qterms, Bm25.TopN)
        .select(col("qid"), col("doc_id").as("id"), col("rank").as("bm25_rank"))
      val vec = BinaryQuant.ivfBinaryCodedPlan(idx.coded, probesOf(r), qvOf(r),
          Bm25.TopN, BinaryQuant.RerankR)
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("vec_rank"))
      val want = Bm25.fuseRrf(local(vec), local(bm))
        .select(col("qid"), col("id").as("vec_id"), col("rrf"), col("rank")).collect().toSeq
      if (want != res._1)
        mismatches.put(r.qid, s"fused list != fuseRrf over independent lists: $want vs ${res._1}")
    }
  }

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  def measure(seconds: Double, traced: Boolean): Measured = {
    val docs = new java.util.concurrent.atomic.AtomicLong()
    val (ops, wall) = closedLoop(Clients, seconds, 0, traced) { i =>
      val r = request(i % Templates)
      val res = serve(r)
      docs.addAndGet(res._2.size)
      Option(alone.get(r.qid)).foreach { want =>
        if (want != res) mismatches.put(r.qid, s"request ${r.qid} under $Clients clients " +
          s"returned ${res} but alone returned $want")
      }
    }
    val mb = LiveHeap.mb()
    Measured(ops, wall, mb, ops.count(_.ok).toLong, docs.get(), wall)
  }

  /** Splits each stage into its engine calls, each collected alone. */
  override def decompose(): Unit = Audited.map(request).foreach { r =>
    val qterms = r.terms.map(t => (r.qid, t))
    import spark.implicits._
    tracer.span("Bm25.score_ms")(Bm25.scoreAndRank(
      idx.tf.filter(col("word").isin(r.terms: _*)), idx.dl, idx.dfT, idx.tot,
      qterms.toDF("qid", "word"), Bm25.TopN).collect())
    tracer.span("BinaryQuant.probe_ms")(BinaryQuant.ivfBinaryCodedPlan(idx.coded,
      probesOf(r), qvOf(r), Bm25.TopN, BinaryQuant.RerankR).collect())
    val fused = alone.get(r.qid)._1.toArray
    val pool = tracer.span("ServeE2e.fetch_ms")(
      ServeE2e.fetchFusedPool(spark, idx.embById, fused).collect())
    tracer.span("Mmr.select_ms")(Mmr.select(pool.sortBy(_.getInt(3))
      .map(x => (x.getLong(1), x.getDouble(2), x.getSeq[Double](4).toArray)),
      Mmr.SelectK, Mmr.CombinedLambda))
  }

  /** Audit results, and the dense tier's recall@10 against exact cosine
    * over the first RecallQueries query vectors. */
  def check(): Unit = {
    require(mismatches.isEmpty, s"serve_hybrid output mismatch: ${mismatches.values()}")
    val queries = spark.createDataFrame(java.util.Arrays.asList((0L until RecallQueries)
      .map(j => Row(j, request(j).vec.toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)))))
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val exact = tracer.span("Knn.topk_s")(pairs(Knn.topK(spark.read.parquet(embPath), queries, 10)))
    val dense = tracer.span("BinaryQuant.batch_probe_s")(pairs(BinaryQuant.ivfBinaryCodedProbe(idx.coded, queries, centroids, 10,
      BinaryQuant.RerankR, BinaryQuant.IvfNprobe)))
    recall = (exact intersect dense).size.toDouble / (10 * RecallQueries)
    require(recall > 0, "serve_hybrid: dense tier recall@10 is 0")
  }

  def recallAt10: Double = recall

  /** The three request spans must account for each request's wall time. */
  override def layerExtras(m: Measured, c: Counters): Map[String, Double] = {
    val stages = Set("IvfIndex.route_ms", "ServeE2e.stage1_ms", "ServeE2e.stage2_ms")
    val kids = tracer.all.filter(s => stages(s.name)).groupBy(_.parent)
    val cover = tracer.named("op").map(op =>
      kids.getOrElse(op.id, Nil).map(_.ms).sum / op.ms)
    val cov = Stats.median(cover)
    require(cov >= 0.95, s"serve_hybrid spans cover only $cov of the request wall time")
    val topk = Stats.median(tracer.named("Knn.topk_s").map(_.ms / 1e3))
    Map("trace.span_coverage" -> cov,
      "Knn.pairs_per_s" -> (if (topk > 0) Docs.toDouble * RecallQueries / topk else 0.0))
  }
}
