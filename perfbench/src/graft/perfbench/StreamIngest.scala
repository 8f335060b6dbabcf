package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{BinaryQuant, Bm25, IvfIndex, Knn}
import graft.streaming.StreamingDedup

/** stream_ingest: the write path. Seeded documents with vectors arrive
  * as fixed-size micro-batches through Structured Streaming
  * (MemoryStream), closed loop: the next batch is added once both
  * queries have drained the previous one. Per trigger, one query checks
  * arrivals for near-duplicates against every earlier arrival
  * (StreamingDedup, a keyed state-store operator) and the other indexes
  * the batch into a BM25 postings shard and a coded-IVF shard under the
  * codebook frozen at setup. After the last trigger the shards merge.
  * `DupFrac` of the arrivals are one-word edits of earlier ones, so the
  * dedup state has pairs to find. */
final class StreamIngest(spark: SparkSession, work: String, seed: Long, tracer: Tracer)
    extends Workload(spark, work, seed, tracer) {
  val Batch = 500
  val DupFrac = 0.05
  val Vocab = 20000
  val BaseVectors = 20000L
  /** Measured triggers every run completes. */
  val MinTriggers = 3
  /** Batches run before timing starts; recall is taken over their docs,
    * which every run ingests. */
  val Priming = 2L
  val RecallQueries = 64

  def sizes: Map[String, Any] = Map("docs_per_trigger" -> Batch, "dup_frac" -> DupFrac,
    "vocab" -> Vocab, "codebook_train_vectors" -> BaseVectors, "dim" -> Gen.Dim,
    "min_triggers" -> MinTriggers, "priming_triggers" -> Priming,
    "recall_queries" -> RecallQueries)

  private val basePath = s"$work/base_embeddings.parquet"
  private val arrSeed = seed ^ 0x5DEECE66DL

  def gen(): Unit = Gen.writeVectors(spark, BaseVectors, seed, basePath)

  private var centroids: Array[Array[Double]] = _
  def setup(rep: Int): Unit = centroids = tracer.span("IvfIndex.train_s")(
    IvfIndex.trainCentroids(IvfIndex.trainSample(spark.read.parquet(basePath)),
      BinaryQuant.IvfNlist, 10))

  def prepare(): Unit = ()

  /** Arrival i: usually a fresh document, else a one-word edit of an
    * earlier arrival with a nearby vector. */
  private val arrived = ArrayBuffer.empty[(Long, String, Array[Float])]
  private def arrival(i: Long): (Long, String, Array[Float]) = {
    if (i < arrived.size) return arrived(i.toInt)
    val r = if (i > 0 && Gen.unit(Gen.h(arrSeed, i, 61)) < DupFrac) {
      val (_, t, v) = arrival(Gen.below(Gen.h(arrSeed, i, 67), i))
      val w = t.split(" ")
      w(Gen.below(Gen.h(arrSeed, i, 71), w.length).toInt) = Gen.word(arrSeed, i, 0, Vocab)
      (i, w.mkString(" "), v.map(_ + 0.01f))
    } else (i, Gen.text(arrSeed, i, Vocab), Gen.vector(arrSeed, i))
    arrived += r
    r
  }

  final case class Run(root: String, docs: Long, pairs: Seq[(Long, Long)])
  private var checked: Run = _

  /** One stream run into `root`: triggers until `seconds` have passed
    * and `minTriggers` have run, then the shard merge. */
  private def runStream(root: String, minTriggers: Int, seconds: Double,
      traced: Boolean): (Run, Seq[Op], Double, Double) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Array[Float])]
    val docs = input.toDS().toDF("doc_id", "text", "embedding")
    val pairs = new ConcurrentLinkedQueue[(Long, Long)]()
    val index = docs.writeStream.queryName(s"ingest_index_${root.hashCode.abs}")
      .option("checkpointLocation", s"$root/_ckpt_index")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val tf = Bm25.postingsTf(batch.select("doc_id", "text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          tf.count()
          tracer.span("Bm25.shard_write_ms", id)(
            Bm25.writePostingsFromTf(tf, s"$root/bm25_shard_$id", certify = false))
        } finally tf.unpersist()
        tracer.span("BinaryQuant.shard_write_ms", id)(BinaryQuant.writeCodedLayout(
          batch.select(col("doc_id").as("vec_id"), col("embedding")), centroids,
          s"$root/coded_shard_$id"))
        ()
      }.start()
    val dedup = StreamingDedup.candidatePairs(
        StreamingDedup.bandHits(docs, "doc_id", "text").as[StreamingDedup.BandHit])
      .writeStream.queryName(s"ingest_dedup_${root.hashCode.abs}")
      .option("checkpointLocation", s"$root/_ckpt_dedup")
      .foreachBatch { (ps: org.apache.spark.sql.Dataset[StreamingDedup.Pair], _: Long) =>
        ps.collect().foreach(p => pairs.add((p.doc_a, p.doc_b)))
      }.start()
    def trigger(b: Long): Unit = {
      input.addData((b * Batch until (b + 1) * Batch).map(arrival): _*)
      index.processAllAvailable(); dedup.processAllAvailable()
    }
    // A query's first micro-batch also starts it (plans, state store,
    // checkpoint logs) and the next few run slow while the JIT settles:
    // the first Priming batches run before timing starts, so an op is a
    // steady-state trigger.
    val (ops, t0) = try {
      (0L until Priming).foreach(trigger)
      val t0 = System.nanoTime()
      (closedLoop(1, seconds, minTriggers, traced)(b => trigger(b + Priming))._1, t0)
    } finally { index.stop(); dedup.stop() }
    val loopS = (System.nanoTime() - t0) / 1e9
    val n = (ops.size + Priming) * Batch
    val shards = 0L until ops.size + Priming
    tracer.span("Bm25.merge_s")(Bm25.mergePostingsLayouts(spark,
      shards.map(i => s"$root/bm25_shard_$i"), s"$root/bm25_merged"))
    tracer.span("IvfIndex.merge_s")(IvfIndex.writeSalted(
      shards.map(i => spark.read.parquet(s"$root/coded_shard_$i")).reduce(_ unionByName _),
      s"$root/coded_merged", IvfIndex.MergeTargetRows))
    val wall = (System.nanoTime() - t0) / 1e9
    (Run(root, n, pairs.asScala.toSeq), ops, loopS, wall)
  }

  def measure(seconds: Double, traced: Boolean): Measured = {
    val (run, ops, loopS, wall) =
      runStream(s"$work/ingest_${if (traced) "traced" else "plain"}", MinTriggers, seconds, traced)
    val mb = LiveHeap.mb()
    if (!traced) checked = run
    // the measured triggers' docs; the merge after them also folds in the
    // priming shards, the same number in every run
    val docs = ops.count(_.ok).toLong * Batch
    Measured(ops, loopS, mb, docs, docs, wall)
  }

  private def docsDf(n: Long): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList((0L until n).map { i =>
      val (id, t, v) = arrival(i); Row(id, t, v.toSeq)
    }: _*), StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType)))))

  private def sameRows(what: String, a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    require(x.exceptAll(y).unionAll(y.exceptAll(x)).isEmpty,
      s"stream_ingest: merged $what differs from a from-scratch build")
  }

  @volatile private var recall = 0.0

  /** Merged postings equal a from-scratch build over the same docs;
    * every merged coded row sits in its IvfIndex.assign bucket; every
    * reported dedup pair shares a band bucket recomputed in batch. */
  def check(): Unit = {
    val run = checked
    val all = docsDf(run.docs)
    val merged = spark.read.parquet(s"${run.root}/coded_merged")
    // recall runs alone, so its kNN and probe spans time the kernels
    // uncontended; the three output checks are independent and run together
    recall = recallOf(all, merged)
    require(recall > 0, "stream_ingest: merged coded layout recall@10 is 0")
    graft.Mat.concurrently(() => {
      val ref = s"$work/ingest_reference"
      Bm25.writePostingsLayout(all.select("doc_id", "text"), ref)
      graft.Mat.concurrently(Seq("tf", "dl", "df", "tot").map(t => () =>
        sameRows(s"postings table $t", spark.read.parquet(s"${run.root}/bm25_merged/$t"),
          spark.read.parquet(s"$ref/$t"))): _*)
    }, () => {
      val reassigned = IvfIndex.assign(merged.select("vec_id", "embedding"), centroids)
        .select(col("vec_id"), col("centroid").as("want"))
      val stats = merged.join(reassigned, "vec_id")
        .agg(count(lit(1)), countDistinct(col("vec_id")),
          sum(when(col("centroid") =!= col("want"), 1).otherwise(0))).head()
      require(stats.getLong(0) == run.docs && stats.getLong(1) == run.docs && stats.getLong(2) == 0,
        s"stream_ingest: merged coded layout has ${stats.getLong(0)} rows " +
          s"(${stats.getLong(1)} ids, ${stats.getLong(2)} in the wrong bucket) for ${run.docs} docs")
    }, () => {
      import spark.implicits._
      val hits = StreamingDedup.bandHits(all, "doc_id", "text")
      val batchPairs = hits.as("a").join(hits.as("b"), col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
      require(run.pairs.nonEmpty, "stream_ingest: no near-duplicate pairs reported")
      require(run.pairs.distinct.toDF("doc_a", "doc_b").exceptAll(batchPairs).isEmpty,
        "stream_ingest: a reported dedup pair shares no band bucket")
    })
  }

  /** recall@10 of the merged coded layout over the priming batches'
    * docs, against exact cosine top-10 over the same docs. */
  private def recallOf(all: DataFrame, merged: DataFrame): Double = {
    val n = Priming * Batch
    val qs = spark.createDataFrame(java.util.Arrays.asList((0 until RecallQueries).map { i =>
      Row(i.toLong, arrival(Gen.below(Gen.h(arrSeed, i, 73), n))._3.map(_.toDouble + 0.05).toSeq)
    }: _*), StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)))))
    def pairsOf(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val exact = tracer.span("Knn.topk_s")(pairsOf(Knn.topK(all.filter(col("doc_id") < n)
      .select(col("doc_id").as("vec_id"), col("embedding")), qs, 10)))
    val approx = tracer.span("BinaryQuant.batch_probe_s")(pairsOf(BinaryQuant.ivfBinaryCodedProbe(
      merged.filter(col("vec_id") < n), qs, centroids, 10, BinaryQuant.RerankR,
      BinaryQuant.IvfNprobe)))
    (exact intersect approx).size.toDouble / (10 * RecallQueries)
  }

  def recallAt10: Double = recall

  override def layerExtras(m: Measured, c: Counters): Map[String, Double] = {
    // counters cover the measured triggers only, not the priming ones
    val inputBytes = (Priming * Batch until Priming * Batch + m.docs)
      .map(i => arrival(i)._2.length + 4L * Gen.Dim).sum
    val topk = Stats.median(tracer.named("Knn.topk_s").map(_.ms / 1e3))
    Map("Tables.bytes_written_per_input_byte" -> c.total.bytesWritten.toDouble / inputBytes,
      "Knn.pairs_per_s" ->
        (if (topk > 0) Priming.toDouble * Batch * RecallQueries / topk else 0.0))
  }
}
