package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Mat

/** The one streaming replay driver. Each feed is a MemoryStream (the
  * only deterministic-chunking source) with a chunk schedule, the
  * streaming plan built over it, and a sink. A replay:
  *  - sizes `spark.sql.shuffle.partitions` through Mat.withLoopPartitions
  *    from the MAXIMUM over its feeds of total fed rows, and disables
  *    no-data micro-batches, restoring both afterwards (also on
  *    failure). The partition count is captured by each query at start
  *    and recorded in its offset log, so the restore cannot race later
  *    triggers. A no-data micro-batch exists to fire watermark-driven
  *    emissions (append-mode window finalization, state timeouts); no
  *    replayed plan emits that way — complete-mode aggs re-emit on data,
  *    the keyed-state ops use NoTimeout + explicit poison rows, and the
  *    stream-stream join is inner — so the extra empty trigger after
  *    every chunk would be pure per-trigger overhead;
  *  - starts every feed's query, then feeds them in lockstep: chunk i of
  *    every feed, then one processAllAvailable per query. Each feed
  *    keeps its own chunk boundaries, so its state evolution (and its
  *    result) is that of a replay on its own;
  *  - stops every query in a finally;
  *  - awaits the background writes its foreachBatch feeds submitted
  *    (Mat.withBackground: a failed write cancels the rest and surfaces
  *    as the replay's exception);
  *  - returns each memory sink's table DETACHED (Mat.detach) and drops
  *    its temp view, so no view, row or stream outlives the replay. */
private[graft] object Replay {
  sealed trait Sink
  /** Memory sink in `mode`; its table is returned detached. */
  final case class Memory(mode: String) extends Sink
  /** Append-mode parquet sink at `path`, checkpointed at `ckpt`. */
  final case class Parquet(path: String, ckpt: String, partitionBy: String*) extends Sink
  /** foreachBatch sink, checkpointed at `ckpt`; `f` may hand writes
    * that need not finish inside the trigger to the replay's
    * Background. */
  final case class Batches(ckpt: String)(val f: (Mat.Background, DataFrame, Long) => Unit)
    extends Sink

  final class Feed[A: Encoder] private[Replay] (val chunks: Seq[Seq[A]], sink: Sink,
      build: Dataset[A] => DataFrame) {
    private[Replay] def rows: Long = chunks.iterator.map(_.size.toLong).sum

    private[Replay] def start(spark: SparkSession, bg: Mat.Background,
        views: scala.collection.mutable.Buffer[String]): (StreamingQuery, Int => Unit) = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[A]
      val w = build(input.toDS()).writeStream
      val q = sink match {
        case Memory(mode) =>
          val name = s"graft_replay_${ctr.incrementAndGet()}"
          views += name
          w.format("memory").queryName(name).outputMode(mode).start()
        case Parquet(path, ckpt, by @ _*) =>
          w.format("parquet").option("path", path).option("checkpointLocation", ckpt)
            .partitionBy(by: _*).outputMode("append").start()
        case b: Batches =>
          w.foreachBatch { (batch: DataFrame, id: Long) => b.f(bg, batch, id) }
            .option("checkpointLocation", b.ckpt).start()
      }
      (q, i => chunks.lift(i).foreach(c => input.addData(c: _*)))
    }
  }

  def feed[A: Encoder](chunks: Seq[Seq[A]], sink: Sink)(build: Dataset[A] => DataFrame): Feed[A] =
    new Feed(chunks, sink, build)

  private val ctr = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Replay `feeds` in lockstep; one detached table per Memory feed, in
    * feed order. */
  def apply(spark: SparkSession, feeds: Feed[_]*): Seq[DataFrame] = {
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    Mat.withLoopPartitions(spark, feeds.map(_.rows).max) {
      val oldNd = spark.conf.get(ndKey)
      spark.conf.set(ndKey, "false")
      val views = scala.collection.mutable.Buffer.empty[String]
      try {
        Mat.withBackground(2) { bg =>
          val started = scala.collection.mutable.Buffer.empty[(StreamingQuery, Int => Unit)]
          try {
            feeds.foreach(f => started += f.start(spark, bg, views))
            for (i <- 0 until feeds.map(_.chunks.size).max) {
              started.foreach(_._2(i))
              started.foreach(_._1.processAllAvailable())
            }
          } finally started.foreach(_._1.stop())
        }
        views.map(v => Mat.detach(spark.table(v))).toSeq
      } finally {
        views.foreach(spark.catalog.dropTempView)
        spark.conf.set(ndKey, oldNd)
      }
    }
  }

  /** One memory-sink feed: its detached table. */
  def memory[A: Encoder](spark: SparkSession, chunks: Seq[Seq[A]], mode: String)
                        (build: Dataset[A] => DataFrame): DataFrame =
    apply(spark, feed(chunks, Memory(mode))(build)).head
}
