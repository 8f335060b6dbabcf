package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch events queries
  * (Relational.eventsTumbling / eventsSessionize): same semantics,
  * incremental execution with watermarks and keyed state.
  *
  * Input schema (streaming-native): event_id long, ts timestamp,
  * user_id long, event_type string, value double.
  */
object EventsStreaming {
  /** Tumbling 1-hour windowed counts/sums with a 2-hour watermark —
    * the streaming form of eventsTumbling. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
      .select(
        unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"), col("sum_value_cents"))

  case class Ev(user_id: Long, tsNs: Long, valueCents: Long)
  case class SessionState(sessStart: Long, lastTs: Long, n: Long, sumCents: Long, sessId: Long)
  case class SessionOut(user_id: Long, sess_id: Long, session_start: Long,
                        n_events: Long, sum_value_cents: Long)

  val GapNs: Long = 1800L * 1000000000L

  /** Session assembly with explicit keyed state — the streaming form of
    * eventsSessionize. Emits a session when the 30-min gap passes or on
    * state timeout. Assumes per-key event-time order within a batch
    * (sorted input or small batches); production hardening would buffer
    * out-of-order events up to the watermark. */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsNs))
          var cur = state.getOption.flatMap(_.headOption)
          var nextId = state.getOption.flatMap(_.headOption).map(_.sessId).getOrElse(0L)
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { e =>
            cur match {
              case Some(st) if e.tsNs - st.lastTs <= GapNs =>
                cur = Some(st.copy(lastTs = e.tsNs, n = st.n + 1, sumCents = st.sumCents + e.valueCents))
              case Some(st) =>
                closed += SessionOut(user, st.sessId, st.sessStart / 1000000000L, st.n, st.sumCents)
                nextId = st.sessId + 1
                cur = Some(SessionState(e.tsNs, e.tsNs, 1L, e.valueCents, nextId))
              case None =>
                nextId += 1
                cur = Some(SessionState(e.tsNs, e.tsNs, 1L, e.valueCents, nextId))
            }
          }
          cur match {
            case Some(st) => state.update(List(st))
            case None => ()
          }
          closed.iterator
      }
  }
}

/** Continuous top-k maintenance: corpus vectors stream in, the running
  * exact top-k per (static, broadcast) query lives in keyed state —
  * the "index ingests forever, best-k always current" serving shape.
  */
object StreamingTopK {
  import org.apache.spark.sql.{Dataset, SparkSession}

  case class Scored(qid: Long, vec_id: Long, score: Double)
  /** `seen` = corpus rows folded into this key's state so far: the
    * convergence marker (seen == corpus size ⇔ the emission is the
    * final, batch-equal top-k — how stream_topk grades itself). */
  case class TopKOut(qid: Long, vec_id: Long, score: Double, rank: Int, seen: Long)

  def run(vectors: Dataset[(Long, Seq[Double])],
          queries: Array[(Long, Array[Double])],
          k: Int): Dataset[TopKOut] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(queries.map { case (id, v) =>
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      (id, v, math.sqrt(n))
    })
    val scored = vectors.flatMap { case (id, vSeq) =>
      val v = vSeq.toArray
      var na = 0.0; var i = 0
      while (i < v.length) { na += v(i) * v(i); i += 1 }
      val sqNa = math.sqrt(na)
      bq.value.iterator.map { case (qid, qv, qn) =>
        var dot = 0.0; var j = 0
        val d = math.min(v.length, qv.length)
        while (j < d) { dot += v(j) * qv(j); j += 1 }
        Scored(qid, id, dot / (sqNa * qn))
      }
    }
    scored.groupByKey(_.qid)
      .flatMapGroupsWithState[(List[(Double, Long)], Long), TopKOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (qid: Long, it: Iterator[Scored],
         state: GroupState[(List[(Double, Long)], Long)]) =>
          var (prev, seen) = state.getOption.getOrElse((Nil, 0L))
          // bounded primitive fold (same as keyedTopK): O(k) reject
          // per arriving row, one k-element sort per trigger
          val h = new graft.plans.TopKPrim(k)
          prev.foreach { case (sc, id) => h.offer(sc, id) }
          it.foreach { s => seen += 1; h.offer(s.score, s.vec_id) }
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
          h.foreach((sc, id) => buf += ((sc, id)))
          val top = buf.sortBy { case (sc, id) => (-sc, id) }.toList
          state.update((top, seen))
          val n = seen
          top.zipWithIndex.map { case ((sc, id), i) => TopKOut(qid, id, sc, i + 1, n) }.iterator
      }
  }
}
