package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import graft.operators.{Dedup, IvfIndex, Knn, Mmr, Relational, Sketches, VectorSearch, Warehouse}

/** GRADED streaming queries: each runs the corpus through one
  * streaming Replay in adversarial chunks and returns the converged
  * result as a plain DataFrame — which the driver then checks against
  * the BATCH DuckDB oracle. This is the hard form of the "streaming ==
  * batch" claim the ScalaTest specs make: the streaming path must
  * reproduce the batch answer bit-exactly (rows + schema + hash), not
  * just approximately.
  *
  * The Replay contract every key relies on: memory-sink results come
  * back DETACHED (local relations — downstream finalization never reads
  * a sink), no temp view, active stream or background writer outlives
  * the key, and the state partition count is sized from the fed rows
  * (Mat.loopPartitions over the largest feed's total).
  *
  * Scale note: collecting the input to the driver is an artifact of
  * MemoryStream (the only deterministic-chunking source); the
  * *operators* under test never rely on it — they are the same
  * watermark/window, flatMapGroupsWithState and stream-static-join
  * pipelines that would read from Kafka/files on a cluster, and their
  * state is bounded (per-key top-k/pool/bucket-membership only).
  */
object StreamingQueries {
  private[graft] def splitN[A](rows: Array[A], n: Int): Seq[Seq[A]] =
    rows.grouped(math.max(1, rows.length / n + 1)).map(_.toSeq).toSeq

  private def split3[A](rows: Array[A]): Seq[Seq[A]] = splitN(rows, 3)

  /** Tumbling 1-hour windowed counts over a streamed events table —
    * watermark + window agg, complete mode; equals the batch
    * events_tumbling GROUP BY (oracle: eventsTumblingSql). Arrival is
    * time-ordered (a stream's natural shape), chunked into 3 triggers. */
  def streamTumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.load(s, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    val out = Replay.memory(s, split3(rows), "complete") { ds =>
      // ts arrives as nanos-since-epoch; the streaming window operator
      // needs TimestampType (µs) — the dropped ns tail cannot move an
      // event across an hour boundary.
      EventsStreaming.tumblingCounts(
        ds.toDF("tsn", "event_type", "value")
          .withColumn("ts", timestamp_micros(expr("tsn div 1000"))))
    }
    out.select(col("hour_start"), col("event_type"), col("n"), col("sum_value_cents"))
      .orderBy("hour_start", "event_type")
  }

  /** Streaming KMV distinct-count sketch per event_type — the profiling
    * primitive run LIVE: the bounded bottom-k aggregate runs as a
    * complete-mode streaming aggregation, so the state store carries
    * exactly one ≤k-long buffer per group forever (an exact distinct
    * count would grow state without bound — which is why the streamed
    * operator carries only the sketch, and its twin drops n_exact).
    * Crossing triggers exercises the aggregate's serialize/deserialize
    * and merge paths through the state store; the final table must
    * equal the batch sketch bit-for-bit (order-independence of the
    * bottom-k makes arrival chunking irrelevant). */
  def streamKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.load(s, dir, "events")
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)].collect().sortBy(r => (r._2, r._1))
    val out = Replay.memory(s, split3(rows), "complete") { ds =>
      ds.toDF("event_type", "user_id")
        .select(col("event_type"),
          shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
            concat(lit("kmv:"), col("user_id").cast("string"))), 1).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.KmvOps.kmvBottomK(col("h"), Sketches.K).as("bk"))
    }
    Sketches.sketchCols(out).orderBy("event_type")
  }

  /** Streaming Count-Min grid over the document token stream — the
    * heavy-hitter profile run LIVE: a complete-mode aggregation keyed
    * by (hash row, bucket), so the state store holds at most d·w =
    * 1024 long counters forever no matter how much text streams
    * through (the exact top-N twin would grow state with the
    * vocabulary, so the streamed operator carries only the sketch —
    * the stream_kmv discipline). Occurrence-counting into cells equals
    * the batch grid's Σ-of-word-counts by linearity, so the drained
    * table matches the batch twin bit-for-bit at any chunking. */
  def streamCms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val out = Replay.memory(s, split3(rows), "complete") { ds =>
      graft.Mat.fanout(ds.toDF("doc_id", "text"))
        .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("word"))
        .select(shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
          concat(lit("cms:"), col("word"))), 1).as("b"))
        .select(explode(expr(s"sequence(0, ${Sketches.CmsD - 1})")).as("j"), col("b"))
        .select(col("j").cast("long").as("j"),
          expr(s"shiftright(b, 13 * j) % ${Sketches.CmsW}").as("bucket"))
        .groupBy("j", "bucket").agg(count(lit(1)).as("counter"))
    }
    out.orderBy("j", "bucket")
  }

  /** Streaming decontamination flagging — pre-training hygiene run
    * LIVE at ingest: the eval-set Bloom filter rides to every executor
    * as an 8 KiB BITMAP (bounded by m at ANY eval-corpus size), and
    * each arriving document is flagged ROW-LOCALLY — shingle, hash,
    * all-k-bits membership count, all inside one projection — so the
    * stream holds ZERO keyed state and runs pure append mode: the
    * production shape where the live flagger emits candidates and the
    * exact verify is a downstream batch join over the (bounded)
    * flagged set. Bit arithmetic identical to the graded batch bloom
    * operator (same positions, same bitmap semantics via the
    * BloomCountExpr codegen kernel), so the drained table equals the
    * batch n_grams/n_pass columns at any chunking. */
  def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val bits = Dedup.bloomBits(docs, "doc_id", "text")
    val rows = docs.filter(col("doc_id") >= Dedup.DecontamEvalMaxId)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val out = Replay.memory(s, split3(rows), "append") { ds =>
      // a MemoryStream batch is ONE partition; fan it out before the
      // shingle+md5+bloom map or the whole flagging pass runs on one
      // core per trigger (the map is the cost here, not state)
      graft.Mat.fanout(ds.toDF("doc_id", "text"))
        .select(col("doc_id").as("train_id"),
          transform(Dedup.shingleStrings("text"), g =>
            shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(g), 1)).as("bs"))
        .select(col("train_id"), size(col("bs")).cast("long").as("n_grams"),
          org.apache.spark.sql.graftshim.Shims.column(Dedup.BloomCountExpr(
            org.apache.spark.sql.graftshim.Shims.expression(col("bs")), bits))
            .cast("long").as("n_pass"))
        .filter(col("n_pass") > 0)
    }
    out.orderBy("train_id")
  }

  /** Keyed-state sessionization over a streamed events table; a
    * far-future poison event per user closes the final open sessions
    * (poison sessions stay open in state and are never emitted), so
    * the emitted set equals batch events_sessionize exactly. */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      // µs floor (identity on MICROS drops) — the batch twin's rule,
      // so streaming == batch holds on a TIMESTAMP(NANOS) drop too
      .select(col("user_id"), expr("ts div 1000 * 1000").as("ts"),
        round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long)].collect().sortBy(e => (e._2, e._1))
      .map { case (u, t, v) => EventsStreaming.Ev(u, t, v) }
    val maxTs = ev.map(_.tsNs).max
    val poison = ev.map(_.user_id).distinct.sorted
      .map(u => EventsStreaming.Ev(u, maxTs + 10000L * 1000000000L, 0L)).toSeq
    val out = Replay.memory(s, split3(ev) :+ poison, "append") {
      ds => EventsStreaming.sessionize(ds).toDF()
    }
    out.select(col("user_id"), col("sess_id"), col("session_start"),
        col("n_events"), col("sum_value_cents"))
      .orderBy("user_id", "sess_id")
  }

  /** Streaming CONVERSION FUNNEL — events_funnel live (the signup →
    * first-later-purchase sequence detection a product-analytics
    * ingest runs continuously): per-user keyed state is exactly TWO
    * longs (min signup ts; min qualifying purchase ts) no matter how
    * many events stream through. Correctness under time-ordered
    * arrival: the first signup seen IS the min (later signups have
    * larger ts), and any purchase with ts strictly greater than the
    * min signup necessarily arrives in the same or a later trigger —
    * so judging each purchase against the post-batch min-signup is
    * exact, and within a trigger the batch is folded signups-first
    * (iterator order never matters). Per-user poison rows flush the
    * final rows in append mode (the sessionize pattern); only users
    * with a signup emit, matching the batch LEFT-join shape. */
  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .as[(Long, String, Long)].collect().sortBy(e => (e._3, e._1))
    val poison = rows.map(_._1).distinct.sorted
      .map(u => (u, "_flush", Long.MaxValue)).toSeq
    val out = Replay.memory(s, split3(rows) :+ poison, "append")(funnelServe)
    out.orderBy("user_id")
  }

  /** The funnel's keyed-state serve over (user_id, event_type, ts_us)
    * rows — two longs of state per user; "_flush" rows emit+clear. */
  private[graft] def funnelServe(ds: Dataset[(Long, String, Long)]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Option[Long], Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String, Long)],
         state: GroupState[(Long, Long)]) =>
          var (sg, pu) = state.getOption.getOrElse((Long.MaxValue, Long.MaxValue))
          val batch = it.toArray
          batch.foreach { case (_, t, ts) =>
            if (t == "signup" && ts < sg) sg = ts }
          batch.foreach { case (_, t, ts) =>
            if (t == "purchase" && ts > sg && ts < pu) pu = ts }
          if (batch.exists(_._2 == "_flush")) {
            state.remove()
            if (sg != Long.MaxValue)
              Iterator((uid, sg,
                if (pu != Long.MaxValue) Some(pu) else None,
                if (pu != Long.MaxValue) 1 else 0))
            else Iterator.empty
          } else { state.update((sg, pu)); Iterator.empty }
      }.toDF("user_id", "signup_us", "purchase_us", "converted")
  }

  /** Streaming AS-OF ENRICHMENT — events_asof live (each error event
    * stamped with the user's most recent prior click, the canonical
    * "enrich the fact stream with latest-state" ingest pattern): keyed
    * state is exactly ONE long per user (the last click's ts) no
    * matter how much history streams through — where the batch twin
    * needs a full per-user window sort. Correctness under time-ordered
    * arrival: rows inside a trigger are re-sorted by (ts, event_id)
    * before folding (iterator order is not guaranteed), and any click
    * that precedes an error in event time arrives in the same or an
    * earlier trigger, so each error's emission is final the moment it
    * is processed — append mode, no poison rows needed. Graded against
    * the UNCHANGED batch events_asof oracle. */
  def streamAsof(s: SparkSession, dir: String): DataFrame =
    streamAsofChunked(s, dir, 3)

  /** streamAsof with an arbitrary trigger count (chunking-invariance
    * is spec'd at 2/3/5 ways — the emission-finality argument must not
    * depend on where trigger boundaries fall). */
  private[graft] def streamAsofChunked(s: SparkSession, dir: String,
                                       ways: Int): DataFrame = {
    import s.implicits._
    // order and fold at the full ns resolution (a nanos-physical
    // testdata drop can order differently at µs); surface µs like the
    // batch twin
    val rows = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("click", "error"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, Long)].collect().sortBy(e => (e._4, e._2))
    val out = Replay.memory(s, splitN(rows, ways), "append")(asofServe)
    // batch twin emits EVERY error event; ts_us fields surface as µs
    out.select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_click_us"), col("gap_us"))
      .orderBy("event_id")
  }

  /** The as-of serve: one long of state per user; errors emit final
    * rows as they arrive (clicks only move the state forward). */
  private[graft] def asofServe(ds: Dataset[(Long, Long, String, Long)]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long, Option[Long], Option[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[Long]) =>
          var lastClick = state.getOption.getOrElse(Long.MinValue) // ns
          val out = Vector.newBuilder[(Long, Long, Long, Option[Long], Option[Long])]
          // within-trigger order is arbitrary — restore event time (ns)
          it.toArray.sortBy(e => (e._4, e._2)).foreach { case (_, eid, t, tsNs) =>
            if (t == "click") { if (tsNs >= lastClick) lastClick = tsNs }
            else {
              // emit µs like the batch twin: floor(ns/1000) of each
              // value independently (floor(a)−floor(b), not floor(a−b))
              val lcUs = if (lastClick == Long.MinValue) None
                         else Some(Math.floorDiv(lastClick, 1000L))
              val tsUs = Math.floorDiv(tsNs, 1000L)
              out += ((eid, uid, tsUs, lcUs, lcUs.map(tsUs - _)))
            }
          }
          if (lastClick != Long.MinValue) state.update(lastClick)
          out.result().iterator
      }.toDF("event_id", "user_id", "ts_us", "last_click_us", "gap_us")
  }

  /** Streaming CDC APPLY — warehouse_cdc live (the materialized-view
    * maintenance shape: a changelog streams in, the engine keeps the
    * last-writer-wins snapshot continuously): keyed state is exactly
    * SIX longs per key (head ts, head event_id, head op, head value,
    * n_changes, n_deletes) at ANY history length — where the batch
    * twin folds the whole changelog. Every fold here is COMMUTATIVE
    * (head = max over the unique (ts, event_id) order; counts are
    * sums), so unlike the time-ordered streaming twins this one is
    * correct under ARBITRARY arrival order — no within-trigger sort,
    * no ordering argument needed. Per-key poison rows (op = -1) flush
    * the final snapshot rows in append mode (the sessionize pattern);
    * keys whose final op is a delete flush nothing, matching the batch
    * filter. Graded by the UNCHANGED batch warehouse_cdc SQL twin. */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "error", 0L).otherwise(1L),
        round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(e => (e._2, e._3))
    val poison = rows.map(_._1).distinct.sorted
      .map(u => (u, 0L, 0L, -1L, 0L)).toSeq
    val out = Replay.memory(s, split3(rows) :+ poison, "append")(cdcServe)
    out.orderBy("user_id")
  }

  /** The CDC serve: six longs of state per key; op = -1 rows flush. */
  private[graft] def cdcServe(
      ds: Dataset[(Long, Long, Long, Long, Long)]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long, Long),
        (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, Long, Long)],
         state: GroupState[(Long, Long, Long, Long, Long, Long)]) =>
          var (hts, heid, hop, hvc, n, ndel) = state.getOption
            .getOrElse((Long.MinValue, Long.MinValue, -1L, 0L, 0L, 0L))
          var flush = false
          it.foreach { case (_, tsn, eid, op, vc) =>
            if (op < 0L) flush = true
            else {
              n += 1; if (op == 0L) ndel += 1
              if (tsn > hts || (tsn == hts && eid > heid)) {
                hts = tsn; heid = eid; hop = op; hvc = vc
              }
            }
          }
          if (flush) {
            state.remove()
            if (hop == 1L) Iterator((uid, hvc, n, ndel, hts / 1000L))
            else Iterator.empty
          } else {
            state.update((hts, heid, hop, hvc, n, ndel)); Iterator.empty
          }
      }.toDF("user_id", "value_cents", "n_changes", "n_deletes",
        "last_ts_us")
  }

  /** Online serving: QUERY vectors stream in against the static corpus
    * (stream-static cross join scored by the codegen cosine), keyed
    * state keeps the per-query exact top-k. Each query's candidates
    * all arrive in its own trigger, so each emission is final; the
    * union equals batch knn_cosine. */
  def streamKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val qs = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val k = VectorSearch.K
    val chunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    val out = Replay.memory(s, chunks, "update")(knnServe(corpus, k))
    out.orderBy("qid", "rank")
  }

  /** Keyed exact top-k state over scored (qid, vec_id, score) triples —
    * the serve tail shared by stream_knn and stream_ivf. */
  private[graft] def keyedTopK(scored: Dataset[(Long, Long, Double)], k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Double, Long)], (Long, Long, Double, Int)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (qid: Long, it: Iterator[(Long, Long, Double)],
         state: GroupState[List[(Double, Long)]]) =>
          // bounded primitive fold: state + arrivals through one
          // TopKPrim (O(k) per row reject path), ONE k-element sort
          // per trigger — not one per arriving row
          val h = new graft.plans.TopKPrim(k)
          state.getOption.getOrElse(Nil).foreach { case (s0, i0) => h.offer(s0, i0) }
          it.foreach { case (_, id, sc) => h.offer(sc, id) }
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
          h.foreach((s0, i0) => buf += ((s0, i0)))
          val top = buf.sortBy { case (s0, i0) => (-s0, i0) }.toList
          state.update(top)
          top.zipWithIndex.iterator.map { case ((sc, id), i) => (qid, id, sc, i + 1) }
      }.toDF("qid", "vec_id", "score", "rank")
  }

  /** Full-scan stream-static serve (the exactness twin): every trigger
    * cross-joins the whole corpus. */
  private[graft] def knnServe(corpus: DataFrame, k: Int)(
      ds: Dataset[(Long, Seq[Double])]): DataFrame = {
    import corpus.sparkSession.implicits._
    keyedTopK(
      ds.toDF("qid", "qv").crossJoin(corpus)
        .withColumn("score",
          graft.functions.VectorOps.cosineSim(col("embedding"), col("qv")))
        .select(col("qid"), col("vec_id"), col("score"))
        .as[(Long, Long, Double)], k)
  }

  /** IVF-routed stream-static serve: NearestCentroidsExpr routes each
    * arriving query to nprobe buckets, the equi-join touches only
    * those buckets' rows. */
  /** Route an arriving query stream to its nprobe nearest cells — the
    * ONE routing rule every streaming serve path shares (ivf, coded,
    * pq, nsw): NearestCentroidsExpr (the same codegen kernel as the
    * batch probe paths), exploded to (qid, qv, centroid) rows. A tie
    * or nprobe tweak edited here cannot desynchronize one serve path
    * from its oracle while the others move. */
  private[graft] def routeQueries(ds: Dataset[(Long, Seq[Double])],
      centroids: Array[Array[Double]], nprobe: Int): DataFrame =
    ds.toDF("qid", "qv").withColumn("centroid",
      explode(org.apache.spark.sql.graftshim.Shims.column(
        graft.operators.NearestCentroidsExpr(
          org.apache.spark.sql.graftshim.Shims.expression(col("qv")),
          centroids, nprobe))))

  private[graft] def ivfServe(indexed: DataFrame, centroids: Array[Array[Double]],
                              nprobe: Int, k: Int)(
      ds: Dataset[(Long, Seq[Double])]): DataFrame = {
    import indexed.sparkSession.implicits._
    val routed = routeQueries(ds, centroids, nprobe)
    keyedTopK(
      // stream-static equi-join; the routed side is q·nprobe rows —
      // broadcast it so the corpus is probed in place, never shuffled
      indexed.join(broadcast(routed), "centroid")
        .withColumn("score",
          graft.functions.VectorOps.cosineSim(col("embedding"), col("qv")))
        .select(col("qid"), col("vec_id"), col("score"))
        .as[(Long, Long, Double)], k)
  }

  /** Coded-layout streaming serve stage: routed queries equi-join the
    * CODE side of the at-rest layout (vec_id, code, centroid — the
    * float column never decodes on the candidate path), AsymCodeDotD
    * scores straight off the persisted words, and keyed state keeps
    * the per-query top-R by (asym DESC, id ASC) — the same candidate
    * cut as batch ivf_binary's `ar` window. */
  private[graft] def codedServe(codes: DataFrame, centroids: Array[Array[Double]],
                                nprobe: Int, r: Int)(
      ds: Dataset[(Long, Seq[Double])]): DataFrame = {
    import codes.sparkSession.implicits._
    val routed = routeQueries(ds, centroids, nprobe)
    keyedTopK(
      codes.join(broadcast(routed), "centroid")
        .withColumn("asym",
          graft.functions.VectorOps.asymCodeDot(col("code"), col("qv")))
        .select(col("qid"), col("vec_id"), col("asym"))
        .as[(Long, Long, Double)], r)
  }

  /** Streaming SPARSE-index ingest — stream_sink's shape for the BM25
    * postings layout: documents ARRIVE via writeStream/foreachBatch,
    * each trigger indexes its batch into its own shard postings layout
    * (writePostingsLayout — the multi-writer at-rest form; exactly-once
    * per batch under the checkpointed foreachBatch contract), a merge
    * folds the shards into one layout (aggregates over the postings
    * tables, never a corpus re-tokenize), and the MERGED index serves
    * the graded query. Output == batch bm25_search, graded by the SAME
    * SQL twin — the whole ingest→merge→serve lifecycle sits on the
    * correctness gate, mirroring how stream_sink grades the dense
    * layout's write path. Round10Spec additionally races the merge
    * against live shard-union serves. */
  def streamBm25Ingest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Bm25
    val docs = Tables.load(s, dir, "documents")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).map(_.toSeq).toSeq
    graft.Mat.withScratchDirs("stream_bm25_shards", "stream_bm25_merged") {
      case Seq(root, merged) =>
        // the trigger itself only tokenizes and MATERIALIZES the shard's
        // tf (the eager checkpoint pins the batch's rows); the four
        // derived-table writes land in the background so their
        // job+commit tail overlaps the NEXT trigger (guide §2.6 —
        // independent jobs back-fill the executor idle time). Shard
        // certificates are skipped: the merged layout is the one served
        // here, and mergePostingsLayouts re-certifies over the merged
        // extremes. The Replay awaits every write before the merge reads
        // the shard dirs; each shard build's shuffles are sized by the
        // replay's fed rows, not the session's corpus-scan constant.
        Replay(s, Replay.feed(chunks, Replay.Batches(s"$root/_ckpt") { (bg, batch, id) =>
          val tf = Bm25.postingsTf(batch).localCheckpoint(true)
          bg.submit(Bm25.writePostingsFromTf(tf, s"$root/shard_$id", certify = false))
        })(_.toDF("doc_id", "text")))
        // shard discovery via the Hadoop FileSystem API (same reason as
        // the IVF layout ops: the shard root is object-store territory
        // at scale; java.io.File would list nothing there). listStatus
        // on the checksummed local FS also hides .crc sidecars.
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val rootFs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val shardDirs = rootFs.listStatus(rootPath)
          .filter(_.getPath.getName.startsWith("shard_"))
          .map(_.getPath.toString).toSeq.sorted
        Bm25.mergePostingsLayouts(s, shardDirs, merged)
        val qterms = s.read.parquet(s"$merged/tf")
          .filter(col("doc_id") < Bm25.NQueriesB)
          .select(col("doc_id").as("qid"), col("word"))
        graft.Mat.detach(
          Bm25.bm25OverPostings(s, merged, qterms, Bm25.K).orderBy("qid", "rank"))
    }
  }

  /** Streaming serve over the PERSISTED PQ-CODE layout (ivfpq_coded's
    * at-rest form served online — the m-bytes-per-vector ADC tier next
    * to stream_ivf_coded's 1-bit tier): arriving queries route to
    * nprobe buckets (the same codegen NearestCentroidsExpr), the
    * per-trigger candidate scan equi-joins ONLY (vec_id, code,
    * centroid) of the probed layout — the packed-long code word, never
    * the float column — and ADC scores fold the m shift-extracted byte
    * lanes against a per-task (query, bucket) residual-LUT cache (one
    * LUT build per pair per task, the in-memory kernel's lutCache
    * moved executor-side; identical tabulate order and left-to-right
    * subspace association, so ADC values are bit-equal to the batch
    * kernel). Keyed state keeps each query's bottom k·refine by
    * (adc, id) — keyedTopK over the NEGATED distance realizes exactly
    * the batch Window's (adc ASC, vec_id ASC) cut. */
  private[graft] def pqCodedServe(codes: DataFrame,
      model: graft.operators.IvfPq.Model, nprobe: Int, nCand: Int)(
      ds: Dataset[(Long, Seq[Double])]): DataFrame = {
    import codes.sparkSession.implicits._
    val bm = codes.sparkSession.sparkContext.broadcast(model)
    val routed = routeQueries(ds, model.centroids, nprobe)
    val scored = codes.join(broadcast(routed), "centroid")
      .select(col("qid"), col("vec_id"), col("code"), col("centroid"), col("qv"))
      .as[(Long, Long, Long, Int, Seq[Double])]
      .mapPartitions { it =>
        val mdl = bm.value
        val lutCache = scala.collection.mutable.HashMap
          .empty[(Long, Int), Array[Array[Double]]]
        it.map { case (qid, id, code, b, qvSeq) =>
          val lut = lutCache.getOrElseUpdate((qid, b), {
            val qv = qvSeq.toArray
            val ctr = mdl.centroids(b)
            val qres = Array.tabulate(qv.length)(i => qv(i) - ctr(i))
            Array.tabulate(mdl.cb.m, mdl.cb.books(0).length) { (sub, c) =>
              val cc = mdl.cb.books(sub)(c)
              var d = 0.0; var i = 0
              while (i < mdl.cb.subDim) {
                val df = qres(sub * mdl.cb.subDim + i) - cc(i); d += df * df; i += 1
              }
              d
            }
          })
          var d = 0.0; var s = 0
          while (s < mdl.cb.m) { d += lut(s)(((code >>> (8 * s)) & 0xffL).toInt); s += 1 }
          (qid, id, -d) // negate: keyedTopK keeps highest == lowest adc
        }
      }
    keyedTopK(scored, nCand)
  }

  /** stream_pq_coded: the PQ-coded layout served online end-to-end —
    * candidate generation streams (pqCodedServe), the q·R survivors
    * broadcast back onto the float column of the same layout and
    * rerank through Knn.rerank. Union of emissions == batch
    * ivfpq_coded from the same deterministic model, so the SAME
    * full-pipeline SQL twin grades both. */
  def streamPqCoded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.IvfPq
    val emb = Tables.load(s, dir, "embeddings")
    val model = IvfPq.modelFor(s, dir)
    val qs = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val k = VectorSearch.K
    val nCand = k * IvfPq.Refine
    val chunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    graft.Mat.withScratchDirs("stream_pq_coded") { case Seq(idx) =>
      IvfPq.writeCodedPqLayout(emb, model, idx)
      val loaded = s.read.parquet(idx)
      val codes = loaded.select(col("vec_id"), col("code"),
        col("centroid").cast("int").as("centroid"))
      val cands = Replay.memory(s, chunks, "update")(
        pqCodedServe(codes, model, IvfPq.NProbe, nCand))
      val qv = emb.filter(col("vec_id") < VectorSearch.NQueries)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val out = Knn.rerankOnto(loaded, cands.select(col("qid"), col("vec_id")), qv, k)
        .select(col("qid"), col("vec_id"), col("score"), col("rank"))
      graft.Mat.detach(out.orderBy("qid", "rank"))
    }
  }

  /** Streaming serve over the PERSISTED-CODE index layout
    * (ivf_binary_coded's at-rest form, served online): arriving
    * queries route to nprobe buckets, the per-trigger candidate scan
    * reads only the 8-byte code column of the probed partitions, and
    * the q·R survivors broadcast back onto the float column of the
    * same layout and rerank through Knn.rerank (the
    * candidate-generation-streams / rerank-follows architecture
    * of a production serving stack). Union of emissions == batch
    * ivf_binary (same deterministic centroids, same candidate cut,
    * same rerank), which is exactly what the shared SQL twin
    * recomputes from the catalogued codebook's literals. */
  def streamIvfCoded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, graft.operators.BinaryQuant.IvfNlist)
    val qs = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val k = VectorSearch.K
    val r = graft.operators.BinaryQuant.RerankR
    val chunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    graft.Mat.withScratchDirs("stream_ivf_coded") { case Seq(idx) =>
      graft.operators.BinaryQuant.writeCodedLayout(emb, centroids, idx)
      val loaded = s.read.parquet(idx)
      val codes = loaded.select(col("vec_id"), col("code"),
        col("centroid").cast("int").as("centroid"))
      val cands = Replay.memory(s, chunks, "update")(
        codedServe(codes, centroids, graft.operators.BinaryQuant.IvfNprobe, r))
      // rerank tier: exact cosine over the survivors only
      val qv = emb.filter(col("vec_id") < VectorSearch.NQueries)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      val survivors = cands.select(col("qid"), col("vec_id"), col("score").as("asym"))
      val out = Knn.rerankOnto(loaded, survivors, qv, k)
        .select(col("qid"), col("vec_id"), col("asym"), col("score"), col("rank"))
        .orderBy("qid", "rank")
      graft.Mat.detach(out)
    }
  }

  /** IVF-routed online serving — the scale-safe replacement for
    * stream_knn's full-scan-per-trigger (reference search,
    * vector_index.py:107-210, in its online shape): each arriving
    * query is routed to its nprobe nearest centroids by the codegen
    * NearestCentroidsExpr, EXPLODED to (qid, centroid) pairs, and
    * stream-static EQUI-joined on `centroid` against the at-rest
    * centroid-partitioned index layout — so the per-trigger scoring
    * work is nprobe/nlist of the corpus, not all of it. Keyed state
    * keeps the per-query exact top-k over the probed candidates; each
    * query's candidates arrive in its own trigger, so each emission is
    * final and the union equals batch ivf_search (same centroids, same
    * probe rule — the ivfSql twin recomputes routing independently). */
  def streamIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, 16)
    val qs = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val k = VectorSearch.K
    val chunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    graft.Mat.withScratchDirs("stream_ivf_index") { case Seq(idx) =>
      // the serving index at rest: centroid-partitioned layout
      IvfIndex.assign(emb, centroids)
        .write.partitionBy("centroid").mode("overwrite").parquet(idx)
      val loaded = s.read.parquet(idx)
        .select(col("vec_id"), col("embedding"), col("centroid").cast("int").as("centroid"))
      val out = Replay.memory(s, chunks, "update")(
        ivfServe(loaded, centroids, 4, k))
      out.orderBy("qid", "rank")
    }
  }

  /** Streaming DRIFT MONITOR — events_drift run LIVE (the production
    * shape: a REFERENCE window profile sits at rest, arrivals stream
    * in, and the monitor reports how far the live value distribution
    * has moved): the reference is the first half of the ts range
    * (the batch operator's own window A), profiled once batch-side
    * and broadcast; the second half ARRIVES as the stream, counted by
    * a complete-mode (type, bucket) aggregation — state is one long
    * per observed histogram cell (the dimension-bounded grid the
    * batch operator also materializes), order-independent counts so
    * chunking never matters. The drained grid finalizes through the
    * SAME exact TV arithmetic as the batch operator — Σ|na·NB−nb·NA|
    * DECIMAL-widened — so the live table equals batch events_drift
    * bit-for-bit and the SAME SQL twin grades both. */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "events")
      .select(col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("vc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Array(lo, hi) = e.agg(min("ts"), max("ts")).collect()
      .flatMap(r => Array(r.getLong(0), r.getLong(1)))
    val mid = lo + (hi - lo) / 2
    val bucketed = e.withColumn("bucket",
      expr(s"vc div ${Relational.DriftBucketCents}"))
    // EAGER checkpoint: refA's lineage must cut from `e` here, so the
    // corpus-sized cache releases as soon as liveRows is collected —
    // a lazy checkpoint would pin `e` until the returned (lazy) plan
    // first executes, leaking the cache entry for the session
    val refA = bucketed.filter(col("ts") <= mid)
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("na"))
      .localCheckpoint(true)
    val liveRows = bucketed.filter(col("ts") > mid)
      .select(col("event_type"), col("ts"), col("bucket"))
      .as[(String, Long, Long)].collect().sortBy(r => (r._2, r._3))
    e.unpersist(blocking = false)
    val grid = Replay.memory(s, split3(liveRows), "complete") { ds =>
      ds.toDF("event_type", "ts", "bucket")
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("nb"))
    }
    // finalize through the batch TV arithmetic over the drained grid
    val joined = refA.join(grid, Seq("event_type", "bucket"), "full_outer")
      .select(col("event_type"), col("bucket"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
    val tot = joined.groupBy("event_type")
      .agg(sum("na").as("tot_a"), sum("nb").as("tot_b"))
    joined.join(broadcast(tot), "event_type")
      .filter(col("tot_a") > 0 && col("tot_b") > 0)
      .withColumn("dev",
        expr("abs(cast(na as decimal(38,0)) * tot_b - cast(nb as decimal(38,0)) * tot_a)"))
      .groupBy("event_type", "tot_a", "tot_b")
      .agg(count(lit(1)).as("n_buckets"),
        expr("cast(sum(dev) * 1000000 div (2 * cast(max(tot_a) as decimal(38,0)) * max(tot_b)) as long)")
          .as("tv_ppm"))
      .select("event_type", "tot_a", "tot_b", "n_buckets", "tv_ppm")
      .orderBy("event_type")
  }

  /** Streaming SEMANTIC-DEDUP GATE — semdedup run at ingest (the
    * production shape: arriving vectors are checked against the
    * at-rest clustered index and flagged before they pollute the
    * corpus): each arrival routes to its k-means cell by the same
    * codegen NearestCentroidExpr as every serving path, stream-static
    * EQUI-joins the centroid-partitioned layout on `centroid` (the
    * clustering IS the blocking — per-trigger compare work is bounded
    * by cell size, and the layout's salting/sub-splits compose on hot
    * cells), keeps earlier-id rows with cosine ≥ τ, and a keyed
    * min-witness state (ONE long per flagged arrival) emits dup_of.
    * Arrival in vec_id order aligns "earlier row wins" with ingest
    * order — each arrival's full candidate set is on the static side
    * in its own trigger, so every emission is final and the table
    * equals batch semdedup bit-for-bit (the SAME planted corpus and
    * the SAME codebook-literal SQL twin grade both). */
  def streamEmbedDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") < Dedup.SemPlantN)
        .select((col("vec_id") + Dedup.SemPlantBase).as("vec_id"), col("embedding")))
    val centroids = IvfIndex.centroidsFor(s, dir, Dedup.SemDedupNlist)
    val rows = planted.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    graft.Mat.withScratchDirs("stream_semdedup_index") { case Seq(idx) =>
      IvfIndex.assign(planted, centroids)
        .write.partitionBy("centroid").mode("overwrite").parquet(idx)
      val loaded = s.read.parquet(idx).select(col("vec_id").as("vid_b"),
        col("embedding").as("emb_b"), col("centroid").cast("int").as("centroid"))
      val out = Replay.memory(s, split3(rows), "update") { ds =>
        val arriving = IvfIndex.assign(ds.toDF("vec_id", "embedding"), centroids)
          .select(col("vec_id").as("vid_a"), col("embedding").as("emb_a"),
            col("centroid"))
        arriving.join(loaded, Seq("centroid"))
          .filter(col("vid_b") < col("vid_a"))
          .withColumn("score",
            graft.functions.VectorOps.cosineSim(col("emb_a"), col("emb_b")))
          .filter(col("score") >= Dedup.SemDedupTau)
          .select(col("vid_a"), col("vid_b")).as[(Long, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[Long, (Long, Long)](
            OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (vid: Long, it: Iterator[(Long, Long)], state: GroupState[Long]) =>
              var m = state.getOption.getOrElse(Long.MaxValue)
              it.foreach { case (_, b) => if (b < m) m = b }
              state.update(m)
              Iterator((vid, m))
          }.toDF("vec_id", "dup_of")
      }
      val full = s.read.parquet(idx)
        .select(col("vec_id"), col("centroid").cast("int").as("centroid"))
        .join(out, Seq("vec_id"), "left")
        .withColumn("keep", col("dup_of").isNull)
        .select("vec_id", "centroid", "keep", "dup_of")
        .orderBy("vec_id")
      graft.Mat.detach(full)
    }
  }

  /** Incremental index ingest: streamed vectors are centroid-routed by
    * the same codegen NearestCentroidExpr as the batch build — the
    * writeStream.partitionBy landing path of stream_sink. Output is
    * the full assignment table; the oracle recomputes every argmin
    * from the corpus codebook's literals. */
  def streamIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, 16)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val out = Replay.memory(s, split3(vecs), "append") { ds =>
      IvfIndex.assign(ds.toDF("vec_id", "embedding"), centroids)
        .select(col("vec_id"), col("centroid"))
    }
    out.orderBy("vec_id")
  }

  /** Continuous top-k: the CORPUS streams in (index ingests forever),
    * per-query keyed state maintains the running exact top-k; the
    * emissions whose state has seen the whole corpus are the converged
    * result and equal batch knn_cosine. */
  def streamTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (id, v) => (id, v.toArray) }
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val chunks = corpus.grouped(math.max(1, corpus.length / 2)).map(_.toSeq).toSeq
    val out = Replay.memory(s, chunks, "update") { ds =>
      StreamingTopK.run(ds, queries, VectorSearch.K).toDF()
    }
    out.filter(col("seen") === corpus.length)
      .select(col("qid"), col("vec_id"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** Incremental LSH near-dup detection: band hits replay in
    * adversarial chunks through the stateful bucket membership; the
    * streamed candidate set, exact-Jaccard-verified, equals batch
    * dedup_minhash_lsh. */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val hits = StreamingDedup.bandHits(docs, "doc_id", "text")
      .as[StreamingDedup.BandHit].collect()
      .sortBy(h => (h.doc_id % 3, h.bucket))
    val cand = Replay.memory(s, split3(hits), "append") { ds =>
      StreamingDedup.candidatePairs(ds).toDF()
    }.distinct()
    // one fanout PER JOIN BRANCH: the un-checkpointed shingle subtree
    // is duplicated in this self-join's plan either way, and a single
    // shared fanout would put the SAME observe (CollectMetrics) name on
    // both branches — a pattern CheckAnalysis has rejected in some
    // Spark versions; a fresh fanout per side carries a fresh name
    def shingled() = graft.Mat.fanout(docs)
      .select(col("doc_id"), Dedup.shingleHashes3(col("text")).as("sh"))
    broadcast(cand)
      .join(shingled().select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shingled().select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        graft.functions.JaccardOps.sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Streaming MMR: candidate pools accumulate per query across
    * triggers; the emission whose pool is complete is the final
    * diversity selection and equals batch mmr_rerank. */
  def streamMmr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
    val cands = Knn.topK(emb, queries, Mmr.CandidateK, Knn.Cosine)
      .join(emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb")), "vec_id")
      .select(col("qid"), col("vec_id"), col("score"), col("emb"))
      .as[(Long, Long, Double, Seq[Double])].collect()
      .map { case (q, id, rel, v) => StreamingMmr.Cand(q, id, rel, v) }
      .sortBy(c => (c.vecId % 3, c.qid)) // adversarial: split mid-pool
    val chunks = Seq(cands.take(cands.length / 2).toSeq, cands.drop(cands.length / 2).toSeq)
    val out = Replay.memory(s, chunks, "update") { ds =>
      StreamingMmr.select(ds).toDF()
    }
    out.filter(col("pool_n") === Mmr.CandidateK)
      .select(col("qid"), col("vec_id"), col("mmr_rank"), col("mmr_score"))
      .orderBy("qid", "mmr_rank")
  }

  /** Streaming WRITE path, graded end-to-end: streamed vectors are
    * centroid-routed and land via writeStream.partitionBy in the SAME
    * at-rest partitioned layout the batch index writes (file sink +
    * checkpoint — the exactly-once landing zone). The graded result is
    * the reloaded layout's full assignment table; oracle recomputes
    * every argmin from the corpus codebook's literals. */
  def streamSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, 16)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    graft.Mat.withScratchDirs("stream_sink_q", "stream_sink_ckpt") { case Seq(out, ckpt) =>
      Replay(s, Replay.feed(split3(vecs), Replay.Parquet(out, ckpt, "centroid")) { ds =>
        IvfIndex.assign(ds.toDF("vec_id", "embedding"), centroids)
      })
      graft.Mat.detach(
        s.read.parquet(out)
          .select(col("vec_id"), col("centroid").cast("int").as("centroid"))
          .orderBy("vec_id"))
    }
  }

  /** Streamed ingest into the Z-ORDER layout (the multi-dim layout's
    * write path, completing its lifecycle beside the dense/sparse
    * indexes'): events arrive via the stream with their z/u8/t8
    * derived IN-FLIGHT from the corpus normalization constants (known
    * to the ingest, exactly as a production pipeline fixes its
    * normalization before writing), land append-mode through the
    * exactly-once parquet sink (unclustered — a sink cannot globally
    * re-sort), and compactZorder folds the landed generation into a
    * clustered one; the graded result is the 2-D slice aggregate off
    * the COMPACTED layout — equal to the batch events_zorder twin
    * (same SQL), so the entire streamed-write → compact → serve chain
    * is on the gate. */
  def streamZorderIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.LayoutQueries
    val ev = Tables.load(s, dir, "events")
    val ex = ev.agg(min("ts"), max("ts"), min("user_id"), max("user_id")).first()
    val (ts0, ts1, u0, u1) = (ex.getLong(0), ex.getLong(1), ex.getLong(2), ex.getLong(3))
    val rows = ev.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)].collect().sortBy(_._2)
    graft.Mat.withScratchDirs("stream_z_gen0", "stream_z_ckpt", "stream_z_gen1") {
      case Seq(g0, ckpt, g1) =>
        val u8 = s"(((user_id - $u0) * 256) div ${u1 - u0 + 1})"
        val t8 = s"(((ts - ${ts0}L) * 256) div ${ts1 - ts0 + 1})"
        Replay(s, Replay.feed(split3(rows), Replay.Parquet(g0, ckpt)) { ds =>
          ds.toDF("event_id", "ts", "user_id", "event_type", "value")
            .withColumn("u8", expr(u8)).withColumn("t8", expr(t8))
            .withColumn("z", expr(LayoutQueries.zorderExprSql("u8", "t8")))
        })
        LayoutQueries.compactZorder(s, g0, g1)
        graft.Mat.detach(
          s.read.parquet(g1)
            .filter(col("u8").between(LayoutQueries.Z0, LayoutQueries.Z1) &&
              col("t8").between(LayoutQueries.T0, LayoutQueries.T1))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100).cast("long")).as("sum_value_cents"),
              sum(col("z")).as("sum_z"))
            .orderBy("event_type"))
    }
  }

  /** NSW-graph stream-static serve: arriving queries route to nprobe
    * buckets (same NearestCentroidsExpr as stream_ivf), equi-join the
    * serve-ready NSW shard table (one row per bucket: ids, unit
    * vectors, adjacency — HnswAnn.nswShards), and each (query, shard)
    * row replays the bucket's beam walk exactly as the batch path
    * does; a per-partition graph cache rebuilds each bucket's NswGraph
    * once per task, not once per query. Survivors rerank by exact
    * cosine against the raw corpus and fold into the keyed top-k
    * state. At scale the shard table is the at-rest index (partitioned
    * by bucket); only q·nprobe routed rows and the beam survivors ever
    * move. */
  private[graft] def nswServe(shards: DataFrame, corpus: DataFrame,
      centroids: Array[Array[Double]], nprobe: Int, k: Int)(
      ds: Dataset[(Long, Seq[Double])]): DataFrame = {
    import shards.sparkSession.implicits._
    val routed = routeQueries(ds, centroids, nprobe)
    val joined = shards.join(broadcast(routed), col("bucket") === col("centroid"))
      .select(col("qid"), col("qv"), col("bucket"), col("ids"), col("vecs"), col("adj"))
      .as[(Long, Seq[Double], Int, Seq[Long], Seq[Double], Seq[Seq[Long]])]
    val cands = joined.mapPartitions { it =>
      val cache = scala.collection.mutable.HashMap.empty[Int, graft.operators.HnswAnn.NswGraph]
      it.flatMap { case (qid, qv, bucket, ids, flat, adjSeq) =>
        val g = cache.getOrElseUpdate(bucket,
          graft.operators.HnswAnn.graphFromShard(ids, flat, adjSeq))
        val qu = graft.operators.HnswAnn.unitArr(qv.toArray)
        g.search(qu, graft.operators.HnswAnn.EfSearch)
          .map { case (id, _) => (qid, id, qv) }
      }
    }.toDF("qid", "vec_id", "qv")
    keyedTopK(
      cands.join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
        .withColumn("score",
          graft.functions.VectorOps.cosineSim(col("embedding"), col("qv")))
        .select(col("qid"), col("vec_id"), col("score"))
        .as[(Long, Long, Double)], k)
  }

  /** Online ANN serving through the at-rest NSW index — the streaming
    * twin of hnsw_search (same trained centroids, same deterministic
    * graph build, same beam replay), so the converged union is graded
    * against the SAME recursive-CTE beam-replay oracle as the batch
    * query. Composes the round-7 pieces the way a serving deployment
    * would: routing (stream_ivf), per-bucket NSW graphs (hnsw_search),
    * keyed top-k state (stream_knn). */
  def streamNsw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.HnswAnn
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, HnswAnn.NList)
    val assigned = IvfIndex.assign(emb, centroids)
    val qs = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val chunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    graft.Mat.withScratchDirs("stream_nsw_index") { case Seq(idx) =>
      // Graphs build executor-side straight into the at-rest shard
      // layout; the twin's adjacency literals come from the catalogued
      // whole-corpus build, which this layout must equal.
      HnswAnn.nswShards(assigned).write.mode("overwrite").parquet(idx)
      val shards = s.read.parquet(idx)
      val out = Replay.memory(s, chunks, "update")(
        nswServe(shards, emb, centroids, HnswAnn.NProbe, VectorSearch.K))
      out.orderBy("qid", "rank")
    }
  }

  /** Incremental GRAPH-index ingest — the NSW layout's write story:
    * vectors STREAM into the centroid-partitioned at-rest layout (the
    * stream_sink write path: parquet sink + checkpoint, exactly-once
    * under recovery), the per-bucket NSW graphs REBUILD executor-side
    * from the sunk layout (nswShards over the reloaded corpus — the
    * deterministic vec_id-order insertion means the rebuild equals a
    * whole-corpus build bit-exactly no matter how many triggers wrote
    * the rows), and queries serve through the rebuilt shard table
    * (nswServe). Graded by the SAME recursive-CTE beam-replay oracle
    * as hnsw_search/stream_nsw, over the catalogued whole-corpus build — the
    * ingest→rebuild→serve lifecycle of a graph index sits on the
    * correctness gate end to end. */
  def streamNswIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.HnswAnn
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, HnswAnn.NList)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val qs = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val qchunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    graft.Mat.withScratchDirs("nsw_ingest_corpus", "nsw_ingest_ckpt",
      "nsw_ingest_idx") { case Seq(out, ckpt, idx) =>
        // 1. ingest: vectors stream into the partitioned layout
        Replay(s, Replay.feed(split3(vecs), Replay.Parquet(out, ckpt, "centroid")) { ds =>
          IvfIndex.assign(ds.toDF("vec_id", "embedding"), centroids)
        })
        // 2. rebuild: per-bucket graphs from the sunk layout
        val sunk = s.read.parquet(out).select(col("vec_id"), col("embedding"),
          col("centroid").cast("int").as("centroid"))
        HnswAnn.nswShards(sunk).write.mode("overwrite").parquet(idx)
        val shards = s.read.parquet(idx)
        // 3. serve through the rebuilt index
        val served = Replay.memory(s, qchunks, "update")(
          nswServe(shards, emb, centroids, HnswAnn.NProbe, VectorSearch.K))
        served.orderBy("qid", "rank")
    }
  }

  /** INCREMENTAL graph-index ingest — stream_nsw_ingest without the
    * whole-layout rebuild: each trigger's batch appends to the
    * centroid-partitioned corpus layout AND folds into the at-rest
    * shard table through HnswAnn.incrementalShards — ONLY the buckets
    * the batch touched rebuild (partition-pruned read of those cells;
    * every untouched bucket's shard row carries over byte-for-byte),
    * each trigger publishing a NEW shard-table generation (the swap
    * protocol live serves need). Deterministic vec_id-order insertion
    * makes the incrementally-maintained table bit-equal to a whole-
    * corpus rebuild at every generation (Round10Spec pins it and the
    * untouched-row carry-over), so the final serve grades against the
    * SAME recursive-CTE beam-replay oracle as hnsw_search /
    * stream_nsw_ingest. */
  def streamNswIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.HnswAnn
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, HnswAnn.NList)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val qs = emb.filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val qchunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    graft.Mat.withScratchDirs("nsw_incr_corpus", "nsw_incr_ckpt",
      "nsw_incr_idx") { case Seq(out, ckpt, idxDir) =>
        var gen = -1
        // the CURRENT shard table, eagerly checkpointed per fold: the
        // next fold's untouched-bucket carry-over reads it directly
        // instead of reading gen_N's parquet back (§6 — never re-read
        // what you just wrote; values are identical, the parquet
        // round-trip was a plain serialization of these same rows)
        var cur: DataFrame = null
        // gen_N+1 lands in the background so the write+commit tail
        // overlaps the next trigger's rebuild; the fold itself never
        // waits on it (it folds over `cur`, the checkpointed rows the
        // write serializes). The Replay awaits all writes before the
        // serve reads the final generation. A deployment that needs
        // per-trigger durability of the index generation keeps the write
        // inside the trigger; the replay's contract (serve after full
        // replay) only needs it by serve time.
        Replay(s, Replay.feed(split3(vecs), Replay.Batches(ckpt) { (bg, batch, _) =>
          val assigned = IvfIndex.assign(batch, centroids)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            assigned.write.mode("append").partitionBy("centroid").parquet(out)
            val touched = assigned.select("centroid").distinct()
              .collect().map(_.getInt(0)).toSeq.sorted
            val old =
              if (gen < 0) HnswAnn.nswShards(assigned.limit(0))
              else cur
            val next = HnswAnn.incrementalShards(s, out, old, touched)
              .localCheckpoint(true)
            gen += 1
            val dst = s"$idxDir/gen_$gen"
            bg.submit(next.write.mode("overwrite").parquet(dst))
            cur = next
          } finally assigned.unpersist()
        })(_.toDF("vec_id", "embedding")))
        val shards = s.read.parquet(s"$idxDir/gen_$gen")
        val served = Replay.memory(s, qchunks, "update")(
          nswServe(shards, emb, centroids, HnswAnn.NProbe, VectorSearch.K))
        served.orderBy("qid", "rank")
    }
  }

  /** Sparse BM25 serve over the at-rest postings layout: an arriving
    * query's distinct terms explode to (qid, word) and equi-join the
    * static postings on `word` (the stream side is q·|terms| rows —
    * broadcast, so the postings are probed in place); each postings
    * row carries its dl and df, corpus totals ride as literals (index
    * metadata loaded once at serve start), the contrib is the batch
    * serve's (Bm25.contribs), and the per-(query, doc) integer contrib
    * sums + top-N happen in a keyed stateful emit. CONTRACT: a query's
    * evidence is complete within its trigger (its terms arrive
    * together), so each emission is final and the union equals batch
    * bm25TopN. The contract is ASSERTED at the operator — a qid seen in
    * a second trigger fails loudly (a silent partial+final duplicate
    * pair of top-N lists would otherwise land in the sink); state is
    * one 8-byte seen-marker per served query (a deployment serving an
    * unbounded query stream adds a real trigger cadence + timeout to
    * expire markers — with the harness's 0 ms trigger a registered
    * timeout would busy-loop empty micro-batches). */
  private[graft] def bm25Serve(tf: DataFrame, tot: graft.operators.Bm25.Totals, n: Int)(
      ds: Dataset[(Long, Seq[String])]): DataFrame = {
    import tf.sparkSession.implicits._
    import graft.operators.Bm25
    val terms = ds.toDF("qid", "words")
      .select(col("qid"), explode(col("words")).as("word"))
    val contribs = Bm25.contribs(Bm25.withTotals(
        tf.select("word", "doc_id", "tf", "dl", "df").join(broadcast(terms), "word"), tot))
      .as[(Long, Long, Long)]
    contribs.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long, Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[Boolean]) =>
          require(!state.exists, s"bm25Serve: query $qid arrived in a " +
            "second trigger — the serve contract is one trigger per query " +
            "(a partial top-N would already have been emitted)")
          state.update(true) // seen marker: one Boolean per served query.
          // NoTimeout is deliberate: a registered processing-time
          // timeout makes the engine run EMPTY micro-batches every
          // trigger interval just to fire timeouts — with the default
          // 0 ms trigger that is a busy loop. A deployment with an
          // unbounded query stream sets a real trigger cadence and a
          // timeout to expire these markers; at 8 bytes of state per
          // query ever served, the marker outlives the old per-query
          // doc-sum maps by orders of magnitude anyway.
          // Integer contrib sums are order-independent longs, so the
          // within-trigger fold is exact in any arrival order.
          val sums = scala.collection.mutable.HashMap.empty[Long, Long]
          it.foreach { case (_, d, c) => sums(d) = sums.getOrElse(d, 0L) + c }
          sums.toSeq.sortBy { case (d, sc) => (-sc, d) }.take(n)
            .zipWithIndex.iterator
            .map { case ((d, sc), i) => (qid, d, sc, i + 1) }
      }.toDF("qid", "doc_id", "score", "rank")
  }

  /** Streaming HYBRID serve — the full production retrieval stack
    * online: each arriving query carries its embedding AND its terms;
    * the dense tier streams against the vector corpus (keyed top-N
    * state, the stream_knn shape), the sparse tier streams against the
    * at-rest BM25 postings layout (bm25Serve), and the two bounded
    * rank lists fuse downstream through the SAME reciprocal-rank
    * arithmetic as the batch operator (Bm25.fuseRrf) — so the result
    * is bit-equal to batch hybrid_rrf and the SAME SQL twin grades
    * both. */
  def streamHybrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Bm25
    val docs = Tables.load(s, dir, "documents")
    val emb = Tables.load(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val qv = emb.filter(col("vec_id") < Bm25.NQueriesB)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    // distinct terms per query doc — the same token rule as the batch
    // postings (split on \s+, empties kept), so qterms match tf's keys
    val qt = docs.filter(col("doc_id") < Bm25.NQueriesB)
      .select(col("doc_id"),
        expr("array_distinct(split(trim(text), '\\\\s+'))"))
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    def half[A](xs: Array[A]): Seq[Seq[A]] =
      xs.grouped(math.max(1, xs.length / 2)).map(_.toSeq).toSeq
    // the sparse tier serves the SAME shared at-rest postings layout
    // as the graded batch family (built once per corpus per JVM) — a
    // serving deployment has one index, not one per consumer
    val idx = Bm25.layoutFor(s, dir)
    // the two tiers are independent request paths over the same
    // arrivals — replay them CONCURRENTLY (one lockstep Replay), not
    // back-to-back
    val Seq(vecT, bmT) = Replay(s,
      Replay.feed(half(qv), Replay.Memory("update"))(knnServe(corpus, Bm25.TopN)),
      Replay.feed(half(qt), Replay.Memory("append"))(
        bm25Serve(s.read.parquet(s"$idx/tf"), Bm25.totalsOf(s, idx), Bm25.TopN)))
    val vecOut = vecT
      .select(col("qid"), col("vec_id").as("id"), col("rank").as("vec_rank"))
    val bmOut = bmT
      .select(col("qid"), col("doc_id").as("id"), col("rank").as("bm25_rank"))
    Bm25.fuseRrf(vecOut, bmOut)
  }

  /** Streaming SERVE — serve_e2e's full composed request path as a
    * streaming dataflow over the SAME at-rest serve layouts (the last
    * cell of the composition matrix: pipeline_e2e composed curation,
    * serve_e2e composed batch serving, this composes the ONLINE one):
    * arriving requests carry their vector AND their terms; the dense
    * tier is the streaming coded-IVF serve (codedServe — per-trigger
    * code-only candidate scan inside the probed partitions, keyed
    * top-R state, batch broadcast rerank of the q·R survivors at the
    * serve depth TopN), the sparse tier is bm25Serve over the shared
    * postings layout (keyed exact integer contrib sums), the two
    * bounded rank lists fuse through the SAME Bm25.fuseRrf arithmetic,
    * and the diversity tail is the KEYED STREAMING MMR greedy
    * (StreamingMmr at λ=0.7, pools accumulating across triggers) over
    * candidate vectors POINT-READ from the id-sorted embedding layout
    * — the bounded stage-2 fetch, never a corpus scan. Row-for-row
    * equal to batch serve_e2e (Round20Spec) and graded by the SAME
    * serve twin over the same catalogued codebook. */
  def streamServeE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{BinaryQuant, Bm25, ServeE2e}
    ServeE2e.tunePointRead(s)
    val sparseIdx = Bm25.layoutFor(s, dir)
    val (denseIdx, centroids) = ServeE2e.denseLayoutFor(s, dir)
    val embById = ServeE2e.embByIdFor(s, dir)
    val idx = ServeE2e.openIndexes(s, sparseIdx, denseIdx, embById)
    val emb = Tables.load(s, dir, "embeddings")
    // request arrival: each query carries its embedding and its terms
    // (terms derived off the query docs' postings rows, the serve_e2e
    // contract — a bounded driver-side collect, like probe routing)
    val qv = emb.filter(col("vec_id") < Bm25.NQueriesB)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val qt: Array[(Long, Seq[String])] = ServeE2e.onlineTermsFor(idx)
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (q, rows) => (q, rows.map(_._2)) } // rows already (qid, word)-sorted
    def half[A](xs: Array[A]): Seq[Seq[A]] =
      xs.grouped(math.max(1, xs.length / 2)).map(_.toSeq).toSeq
    // dense tier: streaming candidate generation off the coded layout
    // (code-only scan in the probed partitions), batch rerank at TopN.
    // The dense and sparse tiers are independent request paths over the
    // same arrivals — replayed CONCURRENTLY (one lockstep Replay, guide
    // §2.6).
    val codes = idx.coded.select(col("vec_id"), col("code"),
      col("centroid").cast("int").as("centroid"))
    val Seq(cands, bmT) = Replay(s,
      Replay.feed(half(qv), Replay.Memory("update"))(
        codedServe(codes, centroids, BinaryQuant.IvfNprobe, BinaryQuant.RerankR)),
      Replay.feed(half(qt), Replay.Memory("append"))(
        bm25Serve(idx.tf, idx.totals, Bm25.TopN)))
    val qvDf = emb.filter(col("vec_id") < Bm25.NQueriesB)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    // rerank float fetch stays inside the PROBED partitions (the batch
    // plan's shape): every candidate came from a probed partition, so
    // the centroid filter is a pure partition prune — without it this
    // join reads the embedding column of ALL nlist partitions per
    // request batch, a corpus-wide IO scan the serve contract forbids
    val probed = qv.flatMap { case (_, v) =>
      graft.operators.IvfIndex.nearestN(centroids, v.toArray, BinaryQuant.IvfNprobe)
    }.distinct.sorted.toSeq
    val vec = denseRerank(idx.coded, cands, qvDf, probed)
    // sparse tier: online-terms streaming BM25 over the shared layout
    // (drained above, concurrently with the dense tier)
    val bmOut = bmT
      .select(col("qid"), col("doc_id").as("id"), col("rank").as("bm25_rank"))
    // fusion: the same RRF arithmetic over the two bounded drained lists
    val fusedRows = Bm25.fuseRrf(vec, bmOut)
      .select(col("qid"), col("id").as("vec_id"), col("rrf"), col("rank"))
      .collect()
    // diversity tail: bounded point-read of the fused ids off the
    // id-sorted layout, then the keyed streaming greedy — the
    // complete-pool emission is the final, batch-equal selection
    val pool = ServeE2e.fetchFusedPool(s, idx.embById, fusedRows)
      .select(col("qid"), col("vec_id"), col("rrf"), col("emb"))
      .as[(Long, Long, Double, Seq[Double])].collect()
      .map { case (q, id, rel, v) => StreamingMmr.Cand(q, id, rel, v) }
      .sortBy(c => (c.vecId % 3, c.qid)) // adversarial: split mid-pool
    val chunks = Seq(pool.take(pool.length / 2).toSeq,
      pool.drop(pool.length / 2).toSeq)
    val out = Replay.memory(s, chunks, "update") { ds =>
      StreamingMmr.select(ds, Mmr.SelectK, Mmr.CombinedLambda).toDF()
    }
    // complete-pool emission = the one with each qid's MAX pool_n (its
    // final update). A fixed `pool_n === K` criterion is wrong here:
    // unlike stream_mmr's always-CandidateK ANN pool, the serve pool is
    // |fused ∩ embeddings| — a BM25-side candidate without a vector
    // shrinks it below K (exactly what happens at sf1), and the batch
    // twin serves those shorter pools too. Pool ids are unique per qid
    // (fused list keys), so pool_n strictly grows across a qid's
    // emissions and the max picks exactly one.
    val wq = Window.partitionBy("qid")
    out.withColumn("mxn", max(col("pool_n")).over(wq))
      .filter(col("pool_n") === col("mxn"))
      .select(col("qid"), col("vec_id"), col("mmr_rank"), col("mmr_score"))
      .orderBy("qid", "mmr_rank")
  }

  /** The streaming serve's dense rerank: the (qid, vec_id) candidates
    * broadcast onto the float column of the PROBED coded partitions
    * only (the batch plan's shape) — every candidate came from a probed
    * partition, so the centroid filter is a pure partition prune;
    * without it this join reads the embedding column of ALL nlist
    * partitions per request batch, a corpus-wide IO scan the serve
    * contract forbids — then Knn.rerank's exact cosine top-N, the query
    * vectors joined there (Round20Spec pins the plan). */
  private[graft] def denseRerank(coded: DataFrame, cands: DataFrame,
      qvDf: DataFrame, probed: Seq[Int]): DataFrame =
    Knn.rerankOnto(coded.filter(col("centroid").isin(probed: _*)),
        cands.select(col("qid"), col("vec_id")), qvDf, graft.operators.Bm25.TopN)
      .select(col("qid"), col("vec_id").as("id"), col("rank").as("vec_rank"))


  /** Streaming late-interaction serve — multivector_maxsim online:
    * each arriving query carries its FULL slot-ordered token set in one
    * row (the one-trigger-per-query serve contract, enforced like
    * bm25Serve's), the stream-static join computes one codegen cosine
    * per (corpus token, query slot) — Slots columns, corpus scanned
    * once per trigger — and the keyed stateful emit folds per-doc slot
    * maxima (a transient within-trigger map, doc-candidate-sized like
    * bm25Serve's contrib sums; state keeps only an 8-byte seen marker)
    * then sums them in WRITTEN order and emits the final top-K — the
    * same max/sum/tie arithmetic as the batch operator, so streaming
    * == batch bit-equal and the SAME SQL twin grades both. */
  def streamMaxsim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.MultiVector
    // the typed encoder below ((Long, Long, Double×4)) and the c0..c3
    // fold are SPECIALIZED to 4 slots; everything else here scales with
    // the constant, so a Slots change would otherwise only fail deep in
    // analysis — fail loudly at the operator boundary instead
    require(MultiVector.Slots == 4,
      s"streamMaxsim's tuple encoder is specialized to 4 slots, got ${MultiVector.Slots}")
    val tok = Tables.load(s, dir, "embeddings")
      .select(expr(s"vec_id div ${MultiVector.Slots}").as("doc_id"),
        pmod(col("vec_id"), lit(MultiVector.Slots)).cast("int").as("slot"),
        col("embedding"))
    val qs: Seq[(Long, Seq[Seq[Double]])] = tok
      .filter(col("doc_id") < MultiVector.NQDocs)
      .select(col("doc_id"), col("slot"), col("embedding").cast("array<double>"))
      .as[(Long, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, rows) => (q, rows.sortBy(_._2).map(_._3).toSeq) }
    val chunks = qs.grouped(math.max(1, qs.length / 2)).map(_.toSeq).toSeq
    val out = Replay.memory(s, chunks, "append") { ds =>
      val cosCols = (0 until MultiVector.Slots).map(i =>
        graft.functions.VectorOps.cosineSim(
          element_at(col("qtoks"), i + 1), col("embedding")).as(s"c$i"))
      val scored = ds.toDF("qid", "qtoks").crossJoin(tok)
        .select(col("qid") +: col("doc_id") +: cosCols: _*)
        .as[(Long, Long, Double, Double, Double, Double)]
      scored.groupByKey(_._1)
        .flatMapGroupsWithState[Boolean, (Long, Long, Double, Int)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (qid: Long, it: Iterator[(Long, Long, Double, Double, Double, Double)],
           state: GroupState[Boolean]) =>
            require(!state.exists, s"stream_maxsim: query $qid arrived in a " +
              "second trigger — the serve contract is one trigger per query")
            state.update(true)
            // per-doc slot maxima: max is order-independent, so the fold
            // is exact in any arrival order (the batch operator's
            // conditional-max columns compute the same doubles)
            val m = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
            it.foreach { case (_, d, c0, c1, c2, c3) =>
              val a = m.getOrElseUpdate(d,
                Array.fill(MultiVector.Slots)(Double.NegativeInfinity))
              if (c0 > a(0)) a(0) = c0
              if (c1 > a(1)) a(1) = c1
              if (c2 > a(2)) a(2) = c2
              if (c3 > a(3)) a(3) = c3
            }
            val h = new graft.plans.TopKPrim(MultiVector.K)
            m.foreach { case (d, a) =>
              h.offer(((a(0) + a(1)) + a(2)) + a(3), d) // written-order sum
            }
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
            h.foreach((sc, d) => buf += ((sc, d)))
            buf.sortBy { case (sc, d) => (-sc, d) }
              .zipWithIndex.iterator
              .map { case ((sc, d), i) => (qid, d, sc, i + 1) }
        }.toDF("qid", "doc_id", "score", "rank")
    }
    out.orderBy("qid", "rank")
  }

  /** Streaming HyperLogLog registers per event_type — the O(m)-state
    * profiling sketch run LIVE: a complete-mode aggregation keyed by
    * (group, register) keeps ONE max-ρ long per cell, so the state
    * store holds ≤ m = 64 longs per group forever no matter how many
    * members stream through (the stream_kmv discipline: the exact
    * distinct count would grow state without bound, so the streamed
    * operator carries only the sketch). MAX is order-independent, so
    * the drained grid — finalized through the SAME hllFinalize
    * arithmetic as the batch operator — matches the batch sketch
    * bit-for-bit at any chunking. */
  def streamHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.load(s, dir, "events")
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)].collect().sortBy(r => (r._2, r._1))
    val out = Replay.memory(s, split3(rows), "complete") { ds =>
      ds.toDF("event_type", "user_id")
        .select(col("event_type"),
          shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
            concat(lit("hll:"), col("user_id").cast("string"))), 1).as("h"))
        .select(col("event_type"), expr(s"h % ${Sketches.HllM}").as("j"),
          expr("shiftright(h, 6)").as("w"))
        .groupBy("event_type", "j")
        .agg(max(when(col("w") === 0L, 58L)
          .otherwise(lit(58L) - length(bin(col("w"))))).as("m"))
    }
    Sketches.hllFinalize(s, out).orderBy("event_type")
  }

  /** Streaming OUTLIER QUARANTINE — the train-batch / serve-stream
    * form of events_outliers: per-group count/sum/sum-of-squares are
    * profiled ONCE on the at-rest corpus (3 longs per group — the
    * snapshot a production gate broadcasts to its ingest fleet), and
    * arriving events flag against the broadcast stats with the same
    * DECIMAL-widened integer inequality — a map-only stream-static
    * join + filter, ZERO streaming state, any throughput. Replaying
    * the corpus through the stream must reproduce the batch flagged
    * set bit-for-bit (the stats are the same snapshot), so the batch
    * twin grades the streamed serve. */
  def streamOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
    val stats = e.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(col("vc")).as("s"),
      sum(expr("vc * vc")).as("q"))
      .localCheckpoint(true) // the profiled snapshot (static side)
    val rows = e.as[(Long, String, Long)].collect().sortBy(_._1)
    val out = Replay.memory(s, split3(rows), "append") { ds =>
      ds.toDF("event_id", "event_type", "vc")
        .join(broadcast(stats), "event_type")
        .withColumn("d", expr("cast(n as decimal(38,0)) * vc - s"))
        .filter(expr(
          "d * d > 9 * (cast(n as decimal(38,0)) * q - cast(s as decimal(38,0)) * s)"))
        .select(col("event_id"), col("event_type"), col("vc"),
          when(expr("d > 0"), 1).otherwise(0).as("is_high"))
    }
    out.orderBy("event_id")
  }

  /** Streaming COLUMN PROFILER — data_profile run LIVE with bounded
    * state: per column the state store keeps counters, min/max, and
    * ≤ m = 64 max-ρ registers FOREVER at any throughput (exact
    * distinct would grow state with cardinality, so the streamed
    * report deliberately carries only the HLL estimate — the
    * stream_kmv discipline). Two complete-mode aggregations share one
    * arrival stream (rows explode to per-column cells): base stats
    * keyed by column, registers keyed by (column, register); the
    * drained grids finalize through the SAME estimate arithmetic as
    * the batch profiler, so every emitted cell equals the batch
    * report's minus the n_distinct column. */
  def streamProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // RAW event rows stream; the 4-cells-per-row expansion runs INSIDE
    // each streaming plan (project-then-explode executor-side), so the
    // driver feeds n rows instead of 4n pre-exploded tuples and the
    // arrival stream carries event payloads, not per-cell copies. The
    // converged complete-mode aggregates are chunking-invariant, so the
    // drained grids are bit-identical to the pre-exploded arrival. The
    // two profiling aggregations are INDEPENDENT queries over the same
    // arrival order — they run CONCURRENTLY (two lockstep-fed inputs),
    // overlapping their trigger work instead of replaying serially.
    val rows = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    def cells(df: DataFrame): DataFrame = df
      .select(explode(array(
        struct(lit("event_id").as("col_name"),
          col("event_id").cast("string").as("sv"), col("event_id").as("v")),
        struct(lit("user_id").as("col_name"),
          col("user_id").cast("string").as("sv"), col("user_id").as("v")),
        struct(lit("value_cents").as("col_name"),
          col("value_cents").cast("string").as("sv"), col("value_cents").as("v")),
        struct(lit("event_type").as("col_name"),
          col("event_type").as("sv"), lit(null).cast("long").as("v"))))
        .as("c"))
      .select(col("c.col_name").as("col_name"), col("c.sv").as("sv"), col("c.v").as("v"))
    val chunks = split3(rows)
    val Seq(base, regs) = Replay(s,
      Replay.feed(chunks, Replay.Memory("complete")) { ds =>
        cells(ds.toDF("event_id", "user_id", "value_cents", "event_type"))
          .groupBy("col_name").agg(count(lit(1)).as("n_rows"),
            sum(when(col("sv").isNull, 1L).otherwise(0L)).as("n_null"),
            min(col("v")).as("min_long"), max(col("v")).as("max_long"))
      },
      Replay.feed(chunks, Replay.Memory("complete")) { ds =>
        cells(ds.toDF("event_id", "user_id", "value_cents", "event_type"))
          .filter(col("sv").isNotNull)
          .select(col("col_name"),
            shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
              concat(lit("prof:"), col("col_name"), lit(":"), col("sv"))), 1).as("h"))
          .select(col("col_name"), expr(s"h % ${Sketches.HllM}").as("j"),
            expr("shiftright(h, 6)").as("w"))
          .groupBy("col_name", "j")
          .agg(max(when(col("w") === 0L, 58L)
            .otherwise(lit(58L) - length(bin(col("w"))))).as("m"))
      })
    val grid = regs.toDF("event_type", "j", "m") // hllFinalize's group key name
    val est = Sketches.hllFinalize(s, grid)
      .select(col("event_type").as("col_name"), col("est_hll"))
    base.join(est, "col_name")
      .select("col_name", "n_rows", "n_null", "est_hll", "min_long", "max_long")
      .orderBy("col_name")
  }

  /** Stream-stream INTERVAL JOIN — the Structured Streaming native
    * form of events_interval_join: clicks and purchases arrive as two
    * event-time streams (two filters of one source), each watermarked,
    * inner-joined on user equality plus the 6-hour band expressed as a
    * timestamp range condition. This is Spark's symmetric stateful
    * stream-stream join: the band + watermark tell the state store
    * exactly how long each side must be retained (a click can still
    * match until the watermark passes its ts + band; a purchase only
    * until the watermark passes its ts), so state is bounded by the
    * band's worth of events per side — the production attribution-join
    * shape at any scale. An inner join emits every qualifying pair
    * exactly once as it materializes, independent of chunking, and
    * arrival here is time-ordered (a stream's natural shape — nothing
    * is late), so the drained table equals the batch bucket-blocked
    * operator bit-for-bit and the SAME DuckDB twin grades both. */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"))
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._3, r._1))
    val out = Replay.memory(s, split3(rows), "append") { ds =>
      val base = ds.toDF("event_id", "user_id", "ts_us", "event_type")
        .withColumn("ets", timestamp_micros(col("ts_us")))
      val clicks = base.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ets").as("c_ts"), col("ts_us").as("c_us"))
        .withWatermark("c_ts", "10 minutes")
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ets").as("p_ts"), col("ts_us").as("p_us"))
        .withWatermark("p_ts", "10 minutes")
      clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 6 HOURS"))
        .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
          (col("p_us") - col("c_us")).as("gap_us"))
    }
    out.orderBy("click_id", "purchase_id")
  }

  /** Streaming CELL-BALANCE monitor — ivf_cell_stats run LIVE, the
    * observability leg of the maintenance loop (stats → refresh →
    * split/merge apply) moved to ingest time: the codebook is frozen
    * (trained once on the at-rest corpus — the snapshot an ingest
    * fleet broadcasts), arriving vectors route through the SAME
    * NearestCentroidExpr, and a complete-mode count per cell keeps
    * |nlist| longs of state forever at any throughput. Counts are
    * integers — order-free — so the drained grid, finalized through
    * the same share-ppm / cross-multiplied hot arithmetic, equals
    * batch ivf_cell_stats bit-for-bit at any chunking, and the batch
    * twin grades the streamed monitor. */
  def streamCellStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val centroids = IvfIndex.centroidsFor(s, dir, 16)
    val rows = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val out = Replay.memory(s, split3(rows), "complete") { ds =>
      IvfIndex.assign(ds.toDF("vec_id", "embedding"), centroids)
        .groupBy("centroid").agg(count(lit(1)).as("n_vectors"))
    }
    val tot = out.agg(sum("n_vectors").as("total"))
    out.crossJoin(broadcast(tot))
      .select(col("centroid"), col("n_vectors"),
        expr("(n_vectors * 1000000) div total").as("share_ppm"),
        (col("n_vectors") * centroids.length > col("total") * 2).as("hot"))
      .orderBy("centroid")
  }


  private def ingestSql(centroids: Array[Array[Double]]): String =
    s"""WITH d AS (SELECT vec_id, ${graft.OracleSql.distList("embedding", centroids)} AS dl
       |           FROM embeddings)
       |SELECT vec_id, CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS centroid
       |FROM d ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_tumbling" -> (streamTumbling _),
    "stream_kmv" -> (streamKmv _),
    "stream_cms" -> (streamCms _),
    "stream_decontaminate" -> (streamDecontaminate _),
    "stream_zorder_ingest" -> (streamZorderIngest _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_funnel" -> (streamFunnel _),
    "stream_asof" -> (streamAsof _),
    "stream_cdc" -> (streamCdc _),
    "stream_embed_dedup" -> (streamEmbedDedup _),
    "stream_drift" -> (streamDrift _),
    "stream_knn" -> (streamKnn _),
    "stream_ivf" -> (streamIvf _),
    "stream_ivf_coded" -> (streamIvfCoded _),
    "stream_nsw" -> (streamNsw _),
    "stream_ingest" -> (streamIngest _),
    "stream_topk" -> (streamTopk _),
    "stream_dedup" -> (streamDedup _),
    "stream_mmr" -> (streamMmr _),
    "stream_sink" -> (streamSink _),
    "stream_hybrid" -> (streamHybrid _),
    "stream_serve_e2e" -> (streamServeE2e _),
    "stream_pq_coded" -> (streamPqCoded _),
    "stream_bm25_ingest" -> (streamBm25Ingest _),
    "stream_nsw_ingest" -> (streamNswIngest _),
    "stream_nsw_incremental" -> (streamNswIncremental _),
    "stream_maxsim" -> (streamMaxsim _),
    "stream_interval_join" -> (streamIntervalJoin _),
    "stream_hll" -> (streamHll _),
    "stream_outliers" -> (streamOutliers _),
    "stream_profile" -> (streamProfile _),
    "stream_cell_stats" -> (streamCellStats _))

  /** Every oracle is the BATCH twin's SQL: streaming must equal batch. */
  def oracles: Map[String, graft.OracleSql.Twin] = {
    val m = Map.newBuilder[String, String]
    m += "stream_tumbling" -> Relational.eventsTumblingSql
    // bounded-state sketch only — the exact count is deliberately absent
    m += "stream_kmv" -> Sketches.sketchKmvStreamSql
    m += "stream_cms" -> Sketches.cmsStreamSql
    m += "stream_decontaminate" -> Dedup.decontaminateStreamSql
    // the streamed-ingested + compacted z layout serves exactly what
    // the batch z layout serves, so the batch twin grades the write path
    m += "stream_zorder_ingest" -> graft.operators.LayoutQueries.eventsZorderSql
    m += "stream_sessionize" -> Relational.eventsSessionizeSql
    // two-long keyed state + poison flush == the batch funnel LEFT join
    m += "stream_funnel" -> Relational.eventsFunnelSql
    m += "stream_asof" -> Relational.eventsAsofSql
    // commutative keyed folds + poison flush == the batch last-wins apply
    m += "stream_cdc" -> Warehouse.warehouseCdcSql
    // live grid + batch reference finalize through the batch TV math
    m += "stream_drift" -> Relational.eventsDriftSql
    m += "stream_knn" -> VectorSearch.knnCosineSql
    m += "stream_topk" -> VectorSearch.knnCosineSql
    m += "stream_dedup" -> Dedup.dedupMinhashLshSql
    m += "stream_mmr" -> Mmr.mmrRerankSql
    // streaming == batch hybrid bit-equal (shared fusion arithmetic),
    // so the batch twin grades the streamed serve too
    m += "stream_hybrid" -> graft.operators.Bm25.hybridRrfSql
    // the streamed-ingest merged index serves exactly what the batch
    // one-shot computes, so bm25_search's twin grades the write path
    m += "stream_bm25_ingest" -> graft.operators.Bm25.bm25SearchSql
    // streaming == batch maxsim bit-equal (same max/sum/tie arithmetic)
    m += "stream_maxsim" -> graft.operators.MultiVector.maxsimSql
    // stream-stream band join == batch bucket-blocked interval join
    m += "stream_interval_join" -> Relational.eventsIntervalJoinSql
    // bounded-state register sketch only — exact count deliberately absent
    m += "stream_hll" -> Sketches.sketchHllStreamSql
    // stream-served quarantine == batch flagging off the same snapshot
    m += "stream_outliers" -> Relational.eventsOutliersSql
    // bounded-state live profiler — exact distinct deliberately absent
    m += "stream_profile" -> Sketches.dataProfileStreamSql
    graft.OracleSql.fixed(m.result()) ++ Map[String, graft.OracleSql.Twin](
      ("stream_embed_dedup", (s, d) =>
        Dedup.semDedupSql(IvfIndex.centroidsFor(s, d, Dedup.SemDedupNlist))),
      ("stream_ivf", (s, d) => IvfIndex.ivfSql(IvfIndex.centroidsFor(s, d, 16), 4)),
      // streamed balance monitor == batch cell stats off the same codebook
      ("stream_cell_stats", (s, d) =>
        IvfIndex.ivfCellStatsSql(IvfIndex.centroidsFor(s, d, 16))),
      // streaming == batch serve_e2e row-for-row (Round20Spec), so the
      // SAME composed serve twin grades the streaming request path
      ("stream_serve_e2e", graft.operators.ServeE2e.oracles("serve_e2e")),
      ("stream_ivf_coded", graft.operators.BinaryQuant.oracles("ivf_binary_coded")),
      ("stream_pq_coded", graft.operators.IvfPq.oracles("ivfpq_coded")),
      ("stream_nsw", graft.operators.HnswAnn.searchTwin),
      ("stream_nsw_ingest", graft.operators.HnswAnn.searchTwin),
      ("stream_nsw_incremental", graft.operators.HnswAnn.searchTwin),
      ("stream_ingest", (s, d) => ingestSql(IvfIndex.centroidsFor(s, d, 16))),
      ("stream_sink", (s, d) => ingestSql(IvfIndex.centroidsFor(s, d, 16))))
  }
}
