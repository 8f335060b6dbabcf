package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** BM25 keyword retrieval + reciprocal-rank-fusion hybrid search.
  *
  * The reference serves dense-vector similarity only
  * (search_engine.py:174-223 routes every query through an embedding
  * index); production multimodal search engines pair that with a
  * sparse keyword ranker and fuse the two lists — hybrid retrieval.
  * This file adds both halves Spark-first:
  *
  *  - `bm25_search`: Okapi BM25 (Robertson et al., TREC-3) over the
  *    `documents` corpus. The corpus-sized work is wordcount-shaped —
  *    postings shuffle as (word, doc_id, tf) rows, document text never
  *    moves past the tokenizing projection. The at-rest postings row
  *    is self-contained, (word, doc_id, tf, dl, df): its doc's length
  *    and its word's document frequency ride in the row, so serving a
  *    whole-corpus layout joins only the query terms (query-sized →
  *    broadcast, or a plan literal when they are a request's
  *    driver-local term set) and takes the corpus totals (N docs,
  *    T tokens) as two literals held at the driver. No index-state
  *    table is read per query. At 100 TB nothing here changes: the
  *    only large shuffle keys on `word`.
  *
  *  - `hybrid_rrf`: reciprocal rank fusion (Cormack et al., SIGIR'09)
  *    of the BM25 list with the dense cosine top-k over the aligned
  *    `embeddings` table — score = Σ_systems 1/(60 + rank). RRF is
  *    THE standard hybrid combiner precisely because it needs no score
  *    calibration across systems — only ranks — which also makes it
  *    exactly reproducible.
  *
  * Bit-exactness strategy (same discipline as text_tfidf/text_repetition):
  * BM25's log-idf and float saturation are replaced by an integer-exact
  * rational formulation — with k1 = 6/5 and b = 3/4 the term weight
  *
  *   idf · tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl)),  avgdl = T/N
  *
  * multiplies through by 20·T into the all-integer
  *
  *   contrib = (idf_ppk · (44·tf·T)) div (20·tf·T + 6·T + 18·dl·N)
  *   idf_ppk = ((N − df) · 1000) div df
  *
  * — monotone in tf and 1/df exactly like the float form, zero libm,
  * and the per-(query,doc) score is a SUM of longs (order-independent),
  * so the DuckDB twin reproduces it digit-for-digit. Long range is safe
  * through sf1 (idf_ppk ≤ N·10³ ≤ 5·10⁷; 44·tf·T ≤ 44·10²·2.7·10⁶ ≈
  * 1.2·10¹⁰; product ≤ 6·10¹⁷ < 2⁶³). RRF's 1/(60+rank) is a single
  * correctly-rounded IEEE division and the fusion adds exactly two such
  * terms in written order — deterministic on both engines.
  */
object Bm25 {
  val NQueriesB = 10  // query docs: doc_id < 10 (aligned with knn's vec_id < 10)
  val TopN = 20       // per-system candidate depth fed into RRF
  val K = 10          // final list length
  val RrfK = 60       // the standard RRF damping constant
  /** Per-word sub-split target for the postings write — a word whose
    * postings list exceeds this salts into ceil(df/target) write tasks
    * (mirrors IvfIndex.MergeTargetRows for the dense layouts). */
  val PostingsTargetRows = 500000L
  /** Graded deletion set: non-query docs with doc_id ≡ DeleteRem (mod
    * DeleteMod) — deterministic, re-derivable in the SQL twin. */
  val DeleteMod = 5
  val DeleteRem = 3

  /** Per-(query, doc) BM25 scores over the corpus, top `n` per query.
    * Query = the distinct terms of each query document (the
    * more-like-this / related-documents shape; qtf weighting is
    * deliberately dropped — dedup'd terms keep the contract simple and
    * the oracle exact). */
  def bm25TopN(docs: DataFrame, n: Int): DataFrame = {
    // Every derived table comes off the (doc_id, word, tf) postings
    // aggregate — dl = Σtf per doc, df per word, corpus totals from dl,
    // query terms from tf's (already-distinct) keys. NOTE: per-branch
    // column pruning makes the four consumers' subplans differ, so
    // ReuseExchange does NOT fire and this one-shot form re-tokenizes
    // the corpus per branch (~4 scans; measured ~5× slower than a warm
    // postings serve at 20M tokens). It is kept ONLY as the exactness
    // twin for specs — the graded queries and every serving path route
    // through writePostingsLayout + bm25OverPostings: tokenize once
    // into the at-rest inverted index, then every query batch touches
    // only the postings tables.
    val tf = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfT = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val tot = dl.agg(sum("dl").as("big_t"), count(lit(1)).as("big_n"))
    val qterms = tf.filter(col("doc_id") < NQueriesB)
      .select(col("doc_id").as("qid"), col("word"))

    scoreAndRank(tf, dl, dfT, tot, qterms, n)
  }

  /** The general scoring feeder: postings `tf` joined to separate
    * index-state tables — `dl` per doc, `dfT` per word, the 1-row
    * corpus totals `tot` — then the one scoring tail (scoreRows).
    * Any (doc_id, word, tf) table feeds it: the one-shot twin's
    * aggregates, a layout's postings under merge-on-read deletion, a
    * shard union. `tf` is first cut to (doc_id, word, tf), so a
    * layout's in-row dl / df never collide with the joined ones — a
    * shard's in-row df counts its own slice only, and must not score.
    * A whole-corpus layout serves through scoreInRow instead, which
    * joins nothing for index state. */
  private[graft] def scoreAndRank(tf: DataFrame, dl: DataFrame, dfT: DataFrame,
      tot: DataFrame, qterms: DataFrame, n: Int,
      wide: Boolean = false): DataFrame = {
    val postings = tf.select(col("doc_id"), col("word"), col("tf"))
    // a request's driver-local term set joins as a plan literal (no
    // broadcast job); a term table read off the index broadcasts
    scoreRows(graft.Mat.joinLocal(postings.join(broadcast(dfT), "word"), qterms, "word")
      .crossJoin(broadcast(tot))
      .join(dl, "doc_id"), n, wide)
  }

  /** Corpus totals of a layout: T tokens and N docs, the two longs of
    * its 1-row `tot` table, held at the driver. An empty corpus
    * totals 0 and 0 (it has no postings to score). */
  final case class Totals(bigT: Long, bigN: Long)

  private[graft] def totalsOf(tot: DataFrame): Totals = {
    val r = tot.select(coalesce(col("big_t"), lit(0L)), coalesce(col("big_n"), lit(0L)))
      .head()
    Totals(r.getLong(0), r.getLong(1))
  }

  private[graft] def totalsOf(spark: SparkSession, dir: String): Totals =
    totalsOf(spark.read.parquet(s"$dir/tot"))

  /** Serve a WHOLE-CORPUS layout's self-contained postings: each tf
    * row already carries its doc's dl and its word's df, so only the
    * query terms join, and the corpus totals ride as literals (the same
    * two every request, so a request compiles nothing new for them).
    * Bit-equal to scoreAndRank over the layout's tables. A shard's
    * in-row df is shard-local: shard layouts serve through
    * scoreAndRank (bm25OverShardLayouts), never through this. */
  private[graft] def scoreInRow(tf: DataFrame, tot: Totals, qterms: DataFrame,
      n: Int, wide: Boolean = false): DataFrame =
    scoreRows(withTotals(graft.Mat.joinLocal(
      tf.select(col("doc_id"), col("word"), col("tf"), col("dl"), col("df")),
      qterms, "word"), tot), n, wide)

  private[graft] def withTotals(rows: DataFrame, tot: Totals): DataFrame =
    rows.withColumn("big_n", lit(tot.bigN)).withColumn("big_t", lit(tot.bigT))

  /** The one scoring tail: (qid, doc_id, tf, dl, df, big_n, big_t)
    * rows → contributions (contribs), summed per (query, doc), top `n`
    * per query. */
  private def scoreRows(rows: DataFrame, n: Int, wide: Boolean): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    contribs(rows, wide).groupBy("qid", "doc_id").agg(sum("contrib").as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("qid"), col("doc_id"), col("score"), col("rank").cast("int").as("rank"))
  }

  /** The integer-exact per-(query, posting) contribution over
    * (qid, doc_id, tf, dl, df, big_n, big_t) rows, as (qid, doc_id,
    * contrib) — the batch tail and the streaming serve both sum it.
    *
    * `wide = true` selects the DECIMAL(38,0)-widened contrib — the
    * fallback for corpora the Int64 build certificate rejects: the
    * identical rational BM25 with every intermediate product carried
    * in exact 38-digit decimal (the largest, idf_ppk·44·tf·T, stays
    * within ~31 digits even 10⁶× past the certified range) and the
    * integral quotient cast back to long — the per-term contrib is
    * bounded by ~2.2·idf_ppk regardless of corpus size, so the score
    * SUM stays an order-independent long exactly like the fast path.
    * Round10Spec pins wide == integer inside the certified range and
    * wide == BigInt reference beyond it. */
  private[graft] def contribs(rows: DataFrame, wide: Boolean = false): DataFrame = {
    val contribExpr =
      if (wide) expr(
        "(cast(idf_ppk as decimal(38,0)) * (44 * cast(tf as decimal(38,0)) * big_t)) div " +
          "(20 * cast(tf as decimal(38,0)) * big_t + 6 * cast(big_t as decimal(38,0)) + " +
          "18 * cast(dl as decimal(38,0)) * big_n)")
      else expr(
        "(idf_ppk * (44 * tf * big_t)) div (20 * tf * big_t + 6 * big_t + 18 * dl * big_n)")
    rows.withColumn("idf_ppk", expr("((big_n - df) * 1000) div df"))
      .select(col("qid"), col("doc_id"), contribExpr.as("contrib"))
  }

  /** The postings layout for the graded family, built once per
    * `documents` content and Spark application (graft.Catalog): the
    * graded queries execute the production serving shape —
    * `documents.text` is tokenized exactly once (the layout build on
    * first use), and every serve afterwards touches only the postings
    * tables (Round10Spec pins the serve plan scans no documents file).
    * A corpus rewritten in place is a new build. Mirrors how
    * index_save_load grades the at-rest dense layouts;
    * search_engine.py:174-223 likewise serves from a built index and
    * never re-ingests per query. */
  private[graft] def layoutFor(s: SparkSession, dir: String): String =
    graft.Catalog.getOrBuild("bm25.postings", s, dir, Seq("documents")) {
      val dst = graft.Mat.hadoopScratchDir(s, "bm25_index")
      writePostingsLayout(Tables.load(s, dir, "documents"), dst)
      dst
    }

  /** The graded serving path: query terms come off the postings table
    * itself (tf keys are already distinct (doc, word) pairs), so the
    * whole query plan reads only the at-rest index. Bit-equal to
    * bm25TopN (Round9Spec pins it). */
  def bm25TopNServed(s: SparkSession, dir: String, n: Int): DataFrame = {
    val idx = layoutFor(s, dir)
    val qterms = s.read.parquet(s"$idx/tf")
      .filter(col("doc_id") < NQueriesB)
      .select(col("doc_id").as("qid"), col("word"))
    bm25OverPostings(s, idx, qterms, n)
  }

  def bm25Search(s: SparkSession, dir: String): DataFrame =
    bm25TopNServed(s, dir, K).orderBy("qid", "rank")

  /** The graded WIDENED tier: same shared layout, same query-term
    * derivation, but the serve executes the DECIMAL(38,0) plan —
    * graded against a HUGEINT (int128) DuckDB twin. On the in-range
    * graded corpus both reduce to the narrow path's integers, which
    * is the point: the grade certifies the widened plan computes the
    * true values (the same way knn_fp16 grades an alternate arithmetic
    * tier). */
  def bm25SearchWide(s: SparkSession, dir: String): DataFrame = {
    val idx = layoutFor(s, dir)
    val qterms = s.read.parquet(s"$idx/tf")
      .filter(col("doc_id") < NQueriesB)
      .select(col("doc_id").as("qid"), col("word"))
    bm25OverPostingsWide(s, idx, qterms, K).orderBy("qid", "rank")
  }

  /** Long-range certificate for the integer-exact scoring arithmetic:
    * every product the contrib expression forms must fit Int64. Checked
    * against the ACTUAL corpus extremes at index-build time (BigInt
    * math, so the check itself cannot wrap) — a corpus beyond the
    * analyzed range fails the build loudly instead of silently
    * corrupting scores (a rare high-tf term in a multi-million-doc
    * corpus is the realistic wrap case). */
  private[graft] def assertLongRangeSafe(maxIdfPpk: Long, maxTf: Long,
      maxDl: Long, bigT: Long, bigN: Long): Unit = {
    val lim = BigInt(Long.MaxValue)
    val num = BigInt(maxIdfPpk) * 44 * maxTf * bigT
    val den = BigInt(20) * maxTf * bigT + BigInt(6) * bigT + BigInt(18) * maxDl * bigN
    require(num < lim && den < lim,
      s"BM25 integer scoring would overflow Int64 on this corpus " +
        s"(max idf_ppk=$maxIdfPpk, max tf=$maxTf, max dl=$maxDl, T=$bigT, N=$bigN; " +
        s"numerator=$num, denominator=$den); widen to DECIMAL before indexing")
  }

  /** Hot-word-safe postings write. `repartition(word)` alone would put
    * a stop word present in every document — N rows at corpus scale —
    * into ONE task/file (the classic straggler); instead each word gets
    * ceil(df/target) doc_id-derived salt sub-splits (the writeSalted
    * pattern), bounding every write task's share of any single word.
    * The serve join broadcasts qterms against the postings in place,
    * so the sub-split is invisible to every read path. The df joined
    * on for the salt stays in the row: `tf` carries (doc_id, word, tf,
    * dl), and the written row is the self-contained (word, doc_id, tf,
    * dl, df) that scoreInRow serves. `dfT` must count `tf`'s own rows —
    * a shard's df is the shard's, not the corpus's. */
  private def writeTfSalted(tf: DataFrame, dfT: DataFrame, target: Long,
      path: String): Unit = {
    // explicit partition count: a bare repartition(cols) is an AQE
    // coalesce candidate, and coalescing would re-merge the salt
    // sub-splits into one task on small-looking stats — exactly the
    // straggler the salt exists to prevent
    val parts = tf.sparkSession.sessionState.conf.numShufflePartitions
    tf.join(broadcast(dfT), "word")
      .withColumn("salt", pmod(col("doc_id"),
        greatest(lit(1L), ceil(col("df") / target.toDouble))).cast("int"))
      .repartition(parts, col("word"), col("salt"))
      .drop("salt")
      // word-sorted files: every parquet row group carries a tight
      // word min/max, so a serve that pushes a term filter (the online
      // bm25ServeTerms path) skips row groups outside the queried
      // vocabulary slice before any IO
      .sortWithinPartitions(col("word"), col("doc_id"))
      .write.mode("overwrite").parquet(path)
  }

  /** Serve with the query terms known at the driver — the ONLINE query
    * shape: a real query arrives WITH its text, so its distinct terms
    * are a tiny driver-side set (the graded more-like-this queries
    * instead read their terms off the index, which is why they serve
    * through bm25TopNServed). The term set pushes into the postings
    * scan as a data filter (`PushedFilters: In(word, …)`), and because
    * the salted write sorts each file by word, parquet row-group
    * min/max stats prune everything outside the queried slice — the
    * serve reads O(|query terms|) row groups of the postings, not the
    * whole table. dl and df ride in those rows and the totals are
    * literals, so no other index table is read. Bit-equal to the
    * generic serve: the qterms join keeps exactly those words anyway
    * (Round10Spec pins both). */
  def bm25ServeTerms(spark: SparkSession, dir: String,
      queries: Seq[(Long, Seq[String])], n: Int): DataFrame = {
    import spark.implicits._
    val words = queries.flatMap(_._2).distinct
    ServeE2e.tunePointRead(spark, words.size)
    val qterms = queries.flatMap { case (q, ts) => ts.distinct.map((q, _)) }
      .toDF("qid", "word")
    scoreInRow(spark.read.parquet(s"$dir/tf").filter(col("word").isin(words: _*)),
      totalsOf(spark, dir), qterms, n)
  }

  /** The BM25 index as an at-rest layout (the production build-once /
    * query-many shape, mirroring the IVF coded layouts): ONE tokenize
    * pass materializes the (doc_id, word, tf, dl) postings (persisted, so
    * the corpus text is scanned exactly once), which are written salted
    * by word with dl / df / corpus-total tables derived from the same
    * materialization — no serve-time query ever touches the text
    * again. Build-time certificate: the integer-scoring Long range is
    * asserted against this corpus's actual extremes. */
  def writePostingsLayout(docs: DataFrame, dir: String,
      targetRows: Long = PostingsTargetRows, certify: Boolean = true): Unit = {
    val tf = postingsTf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the shared postings cache once, then land the
      // derived tables as concurrent actions
      tf.count()
      writePostingsFromTf(tf, dir, targetRows, certify)
    } finally tf.unpersist()
  }

  /** The tokenize pass → (doc_id, word, tf, dl) postings. dl is the
    * doc's token count, taken off the split before the explode — the
    * value Σtf would give, at no extra job. Fans the doc scan out
    * before the tokenize-explode (single-task on an unsplittable shard
    * otherwise; the exploded token stream feeds the partial
    * aggregation map-side, so parallelism here is the whole build's
    * parallelism). */
  private[graft] def postingsTf(docs: DataFrame): DataFrame =
    graft.Mat.fanout(docs)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"), max("dl").as("dl"))

  /** Land the four derived tables (+ optionally the range certificate)
    * from an already-MATERIALIZED tf (persisted-and-counted or
    * checkpointed — the branches must read, not race to compute) as
    * CONCURRENT actions (guide §2.6 — they are independent given tf;
    * serially each write's commit+job latency was pure idle tail for
    * the others). `tf` carries (doc_id, word, tf, dl); the written
    * postings gain df (writeTfSalted), counted over `tf` itself — so a
    * shard's postings carry its shard-local df, which only a merge
    * (recounting over its own output) makes the corpus's. A shard
    * build inside a multi-writer ingest passes certify=false: only the
    * MERGED layout is the served one there, and it re-certifies over
    * the merged extremes at merge time. */
  private[graft] def writePostingsFromTf(tf: DataFrame, dir: String,
      targetRows: Long = PostingsTargetRows, certify: Boolean = true): Unit = {
    val dfT = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val acts = Seq[() => Unit](
      () => writeTfSalted(tf, dfT, targetRows, s"$dir/tf"),
      () => dl.write.mode("overwrite").parquet(s"$dir/dl"),
      () => dfT.write.mode("overwrite").parquet(s"$dir/df"),
      // corpus totals derive from the SAME materialized-tf lineage the
      // dl table is written from (a read-back of the just-written
      // file would scan identical rows)
      () => dl.agg(coalesce(sum("dl"), lit(0L)).as("big_t"), count(lit(1)).as("big_n"))
        .write.mode("overwrite").parquet(s"$dir/tot")) ++
      (if (certify) Seq(() => certifyRangeOver(tf, dl, dfT)) else Nil)
    graft.Mat.concurrently(acts: _*)
  }

  /** Long-range certificate over the layout's in-flight aggregates —
    * ONE job (cross-joined 1-row aggregates over the persisted tf)
    * instead of four read-back scans of the written tables; the rows
    * written are these same DataFrames, so the certified extremes are
    * the layout's. */
  private def certifyRangeOver(tf: DataFrame, dl: DataFrame,
      dfT: DataFrame): Unit = {
    val row = dl.agg(sum("dl").as("big_t"), count(lit(1)).as("big_n"),
        max("dl").as("max_dl"))
      .crossJoin(dfT.agg(min("df").as("min_df")))
      .crossJoin(tf.agg(max("tf").as("max_tf")))
      .collect().head
    if (row.isNullAt(0) || row.getLong(1) == 0) return // empty corpus
    val (bigT, bigN, maxDl) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val (minDf, maxTf) = (row.getLong(3), row.getLong(4))
    assertLongRangeSafe((bigN - minDf) * 1000L / minDf, maxTf, maxDl, bigT, bigN)
  }

  /** Merge sharded postings layouts (multi-writer ingest: each shard
    * indexed its own disjoint slice of the corpus) into one — the
    * sparse-index sibling of IVF's index_merge: shard tf tables union
    * and rewrite (disjoint doc_ids make the union itself the merged
    * postings; same-doc shards would groupBy-sum here), and dl / df /
    * corpus totals REBUILD from the merged postings — aggregates over
    * the postings table, never a corpus re-tokenize; the rows' in-row
    * dl and df are recounted the same way (the shards' df counted
    * their own slices). The merged tf write salts by word exactly like
    * the whole-corpus build (the merge is where hot-word postings grow
    * largest). */
  def mergePostingsLayouts(spark: SparkSession, shardDirs: Seq[String],
      dst: String, targetRows: Long = PostingsTargetRows): Unit = {
    val un = shardDirs.map(d => spark.read.parquet(s"$d/tf")).reduce(_ unionByName _)
    // size the whole merge's shuffles from the shard postings count
    // (guide §2; a cheap footer-driven count — for disjoint doc slices
    // it EQUALS the merged count, and it bounds it otherwise), so the
    // merged tf persists at the loop width and every concurrent
    // derived-table action scans that many cached partitions instead
    // of the session's corpus-scan constant
    graft.Mat.withLoopPartitions(spark, un.count()) {
      // one exchange, on doc_id: it clusters both the (doc_id, word)
      // sum and the per-doc dl window
      val tf = un.repartition(col("doc_id"))
        .groupBy("doc_id", "word").agg(sum("tf").as("tf"))
        .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        tf.count()
        writePostingsFromTf(tf, dst, targetRows)
      } finally tf.unpersist()
    }
  }

  /** Serve directly over a SET of shard layouts — the live view of a
    * multi-writer index between merges (disjoint doc slices per shard):
    * postings and dl union as-is; global df / corpus totals fold from
    * the shard aggregate tables (vocabulary/1-row shaped — never a
    * corpus re-tokenize). Bit-equal to serving the merged layout, so a
    * background merge can race live serves (Round10Spec). This stays on
    * the scoreAndRank feeder, which drops the postings' in-row columns:
    * a shard row's df counts that shard's docs only, and scoring it
    * would silently skew every idf (PostingsLayoutSpec pins both). */
  def bm25OverShardLayouts(spark: SparkSession, shardDirs: Seq[String],
      qterms: DataFrame, n: Int): DataFrame = {
    def u(t: String) = shardDirs.map(d => spark.read.parquet(s"$d/$t"))
      .reduce(_ unionByName _)
    scoreAndRank(
      u("tf"), u("dl"),
      u("df").groupBy("word").agg(sum("df").as("df")),
      u("tot").agg(sum("big_t").as("big_t"), sum("big_n").as("big_n")),
      qterms, n)
  }

  /** Serve BM25 from the postings layout: identical arithmetic to
    * bm25TopN (bit-equal results — Round9Spec pins it), but the only
    * input is the at-rest postings table, joined once against the
    * broadcast query terms; dl and df ride in its rows, and the corpus
    * totals are read once at the driver (one small job at plan build,
    * in place of the per-query tot / df / dl joins). */
  def bm25OverPostings(spark: SparkSession, dir: String,
      qterms: DataFrame, n: Int): DataFrame =
    scoreInRow(spark.read.parquet(s"$dir/tf"), totalsOf(spark, dir), qterms, n)

  /** The widened serve for corpora past the Int64 certificate (see
    * contribs' `wide` doc): same layout, same rational scoring,
    * DECIMAL(38,0) intermediates. */
  def bm25OverPostingsWide(spark: SparkSession, dir: String,
      qterms: DataFrame, n: Int): DataFrame =
    scoreInRow(spark.read.parquet(s"$dir/tf"), totalsOf(spark, dir), qterms, n,
      wide = true)

  // ------------------------------------------------------- deletion

  /** Tombstone-aware BM25 serve — merge-on-read deletion for the
    * sparse index (the sibling of the dense side's index_delete /
    * index_merge_delete; the reference supports removal only on its
    * dense index, vector_index.py:212 `remove_vectors` — a keyword
    * tier needs the same lifecycle). The at-rest postings are NEVER
    * rewritten on delete: the deleted doc_ids join in as a broadcast
    * tombstone set, live postings come off a broadcast ANTI join
    * inside the postings scan (no shuffle added to the corpus-sized
    * path), and every corpus statistic the scoring needs adjusts by a
    * DELETION-SIZED aggregate — df decrements by the dead postings'
    * per-word counts, dl rows drop, corpus totals subtract the dead
    * docs' lengths. At 100 TB a delete batch costs two broadcast-join
    * scans of the postings and some vocabulary-sized arithmetic —
    * never a re-tokenize, never a layout rewrite (that's compaction's
    * job, below, and serves are bit-equal either side of it). */
  def bm25OverPostingsDeleted(spark: SparkSession, dir: String,
      del: DataFrame, qterms: DataFrame, n: Int): DataFrame = {
    val delB = broadcast(del.select(col("doc_id")).distinct())
    val tf = spark.read.parquet(s"$dir/tf")
    val dl = spark.read.parquet(s"$dir/dl")
    val tfLive = tf.join(delB, Seq("doc_id"), "left_anti")
    val dlLive = dl.join(delB, Seq("doc_id"), "left_anti")
    // per-word df decrement = the dead postings' (doc, word) pair count
    val dfDec = tf.join(delB, Seq("doc_id"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("dec"))
    val dfAdj = spark.read.parquet(s"$dir/df")
      .join(dfDec, Seq("word"), "left")
      .select(col("word"),
        (col("df") - coalesce(col("dec"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val totDead = dl.join(delB, Seq("doc_id"), "left_semi")
      .agg(coalesce(sum("dl"), lit(0L)).as("t_dec"),
        count(lit(1)).as("n_dec"))
    val totAdj = spark.read.parquet(s"$dir/tot")
      .crossJoin(broadcast(totDead))
      .select((col("big_t") - col("t_dec")).as("big_t"),
        (col("big_n") - col("n_dec")).as("big_n"))
    scoreAndRank(tfLive, dlLive, dfAdj, totAdj, qterms, n)
  }

  /** Append a batch of deleted doc_ids to the layout's tombstone table
    * (`dir/del`) — delete batches accumulate until compaction folds
    * them into the files. */
  def writeTombstones(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    ids.select(col("doc_id")).write.mode("append").parquet(s"$dir/del")

  /** The layout's accumulated tombstones (empty frame if none). The
    * existence check goes through the Hadoop FileSystem API resolved
    * from the path + session conf — a java.io.File check here would
    * silently answer "no tombstones" on any non-local layout (HDFS /
    * object store), serving deleted docs as live. */
  def readTombstones(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/del")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(s"$dir/del").select(col("doc_id"))
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("doc_id")
    }
  }

  /** Serve honoring the layout's own tombstone table. */
  def bm25OverPostingsLive(spark: SparkSession, dir: String,
      qterms: DataFrame, n: Int): DataFrame =
    bm25OverPostingsDeleted(spark, dir, readTombstones(spark, dir), qterms, n)

  /** Fold the tombstones into the files: rewrite the layout at `dst`
    * minus the deleted docs (anti-join on the postings — never a
    * corpus re-tokenize; df/dl/totals REBUILD from the surviving
    * postings, so compaction cannot drift from merge-on-read), through
    * the same writer, salted-by-word tf write and Long-range
    * certificate as the original build. A surviving row's in-row dl is
    * unchanged (whole docs leave); its df is recounted. Serves are
    * bit-equal before/after (the merge-on-read adjustments compute
    * exactly the rebuilt tables). */
  def compactTombstones(spark: SparkSession, src: String, dst: String,
      targetRows: Long = PostingsTargetRows): Unit = {
    val delB = broadcast(readTombstones(spark, src).distinct())
    val tf = spark.read.parquet(s"$src/tf")
      .select(col("doc_id"), col("word"), col("tf"), col("dl"))
      .join(delB, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tf.count()
      writePostingsFromTf(tf, dst, targetRows)
    } finally tf.unpersist()
  }

  /** The graded deletion query: the SHARED layout serves with the
    * deterministic tombstone set (doc_id ≡ 3 mod 5, query docs kept
    * live) merged on read — results equal a from-scratch index over
    * the surviving corpus, which is exactly what the SQL twin
    * computes. The tombstone-FILE + compaction lifecycle is spec'd in
    * Round10Spec (write → serve → compact → serve, bit-equal). */
  def bm25SearchDeleted(s: SparkSession, dir: String): DataFrame = {
    val idx = layoutFor(s, dir)
    val del = s.read.parquet(s"$idx/dl")
      .filter(col("doc_id") % DeleteMod === DeleteRem &&
        col("doc_id") >= NQueriesB)
      .select("doc_id")
    val qterms = s.read.parquet(s"$idx/tf")
      .filter(col("doc_id") < NQueriesB)
      .select(col("doc_id").as("qid"), col("word"))
    bm25OverPostingsDeleted(s, idx, del, qterms, K).orderBy("qid", "rank")
  }

  /** RRF fusion of the BM25 top-20 (over documents) with the dense
    * cosine top-20 (over the id-aligned embeddings table): score =
    * 1/(60+r_vec) + 1/(60+r_bm25), absent-from-a-list contributes 0.
    * A hit found by both systems outranks single-system hits — the
    * whole point of hybrid retrieval. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val bm = bm25TopNServed(s, dir, TopN)
      .select(col("qid"), col("doc_id").as("id"), col("rank").as("bm25_rank"))
    val vec = Knn.topK(emb, emb.filter(col("vec_id") < NQueriesB), TopN, Knn.Cosine)
      .select(col("qid"), col("vec_id").as("id"), col("rank").as("vec_rank"))
    fuseRrf(vec, bm)
  }

  /** RRF fusion of a dense rank list (qid, id, vec_rank) with a sparse
    * rank list (qid, id, bm25_rank) — shared by the batch and streaming
    * hybrid queries so their arithmetic is identical by construction.
    *
    * The full-outer merge is expressed as UNION + per-(qid,id) hash
    * aggregate rather than a FULL OUTER join: on unique-keyed rank
    * lists the two are row-identical (max over one non-null rank per
    * side, absent side stays null), but a full-outer join cannot
    * broadcast and plans as SortMergeJoin — a sort the serving stack
    * never needs — while the aggregate form map-side combines. Both
    * inputs are rank-bounded (topN·|queries| rows) at any corpus
    * size, so this is shape hygiene, not a data-volume fix.
    *
    * INPUT CONTRACT (hardened by the union rewrite): `vec` must be
    * exactly (qid, id, vec_rank) and `bm` exactly (qid, id, bm25_rank)
    * — extra columns fail analysis by design — and (qid, id) must be
    * UNIQUE within each list (a rank list keys on the ranked item).
    * The max() merge would silently pick one rank from a duplicated
    * key, so the fused projection routes through an assert_true on the
    * per-side counts: a caller that feeds a dup key fails loudly at
    * execution instead of fusing a silently-picked rank.
    *
    * ONE partition: the union is coalesced to a single partition, so
    * the aggregate, the rank window and the final sort are all
    * satisfied without an exchange (each would otherwise be a
    * shuffle — a job under AQE — over at most |q|·2·topN rows). The
    * single-partition boundary is safe only because both inputs are
    * already cut to their per-qid top-N; the corpus-scaling work below
    * them keeps its own exchanges. */
  def fuseRrf(vec: DataFrame, bm: DataFrame): DataFrame = {
    val fused = vec.select(col("qid"), col("id"),
        col("vec_rank").cast("int").as("vec_rank"),
        lit(null).cast("int").as("bm25_rank"))
      .unionByName(bm.select(col("qid"), col("id"),
        lit(null).cast("int").as("vec_rank"),
        col("bm25_rank").cast("int").as("bm25_rank")))
      .coalesce(1)
      .groupBy("qid", "id")
      .agg(max(col("vec_rank")).as("vec_rank"),
        max(col("bm25_rank")).as("bm25_rank"),
        count(col("vec_rank")).as("_nv"),
        count(col("bm25_rank")).as("_nb"))
      // the assert rides INSIDE the rrf expression (coalesce of a null
      // assert_true result) so column pruning cannot drop it; cost is
      // two count() columns on the same aggregate — no extra pass
      .withColumn("rrf", expr(
        s"coalesce(1.0D / ($RrfK + vec_rank), 0.0D) + coalesce(1.0D / ($RrfK + bm25_rank), 0.0D)" +
          " + coalesce(cast(assert_true(_nv <= 1 and _nb <= 1," +
          " 'fuseRrf: duplicate (qid, id) within one rank list') as double), 0.0D)"))
      .drop("_nv", "_nb")
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("id"), col("vec_rank").cast("int").as("vec_rank"),
        col("bm25_rank").cast("int").as("bm25_rank"), col("rrf"),
        col("rank").cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  /** Retrieval-mode comparison table (the hybrid family's analog of
    * index_comparison): per query, how much the dense@10 and BM25@10
    * lists overlap, and where each hybrid@10 hit came from (both
    * source top-20 lists, dense-only, or bm25-only — read directly off
    * the fused row's rank nullability). All integer counts — exact. */
  def retrievalComparison(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    // Both source lists compute ONCE (detached: 10 queries × top-20 —
    // trivially driver-sized) and everything derives from them: the
    // fusion consumes the top-20s, the overlap counts their top-10
    // PREFIXES (rank ≤ K filter — identical by construction to an
    // independent top-K run, and exactly how the SQL twin derives
    // d10/b10 from its vec/bm CTEs). The round-9 shape re-derived both
    // @10 lists and the whole fused pipeline a second time.
    val bm = graft.Mat.detach(bm25TopNServed(s, dir, TopN)
      .select(col("qid"), col("doc_id").as("id"), col("rank").as("bm25_rank")))
    val vec = graft.Mat.detach(
      Knn.topK(emb, emb.filter(col("vec_id") < NQueriesB), TopN, Knn.Cosine)
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("vec_rank")))
    val hy = fuseRrf(vec, bm)
    val d10 = vec.filter(col("vec_rank") <= K).select("qid", "id")
    val b10 = bm.filter(col("bm25_rank") <= K).select("qid", "id")
    val ov = d10.join(b10, Seq("qid", "id"))
      .groupBy("qid").agg(count(lit(1)).as("dense_bm25_overlap"))
    hy.groupBy("qid").agg(
        sum(when(col("vec_rank").isNotNull && col("bm25_rank").isNotNull, 1L)
          .otherwise(0L)).as("hybrid_both"),
        sum(when(col("vec_rank").isNotNull && col("bm25_rank").isNull, 1L)
          .otherwise(0L)).as("hybrid_dense_only"),
        sum(when(col("vec_rank").isNull && col("bm25_rank").isNotNull, 1L)
          .otherwise(0L)).as("hybrid_bm25_only"))
      .join(ov, Seq("qid"), "left")
      .withColumn("dense_bm25_overlap", coalesce(col("dense_bm25_overlap"), lit(0L)))
      .select(col("qid"), col("dense_bm25_overlap"), col("hybrid_both"),
        col("hybrid_dense_only"), col("hybrid_bm25_only"))
      .orderBy("qid")
  }

  // ------------------------------------------------------------ oracles

  /** The integer-exact BM25 pipeline, top `n` per query, as a DuckDB CTE
    * body (shared by both graded twins). */
  /** `wide = true` computes the contrib in DuckDB HUGEINT (int128) —
    * the twin of the engine's DECIMAL(38,0)-widened path; on an
    * in-range corpus both reduce to the same integers as the narrow
    * arithmetic, which is exactly what the grade certifies. */
  private def bm25CteW(n: Int, wide: Boolean,
      docsWhere: String = "TRUE", qtermsSelect: Option[String] = None): String = {
    val ctbExpr =
      if (wide)
        """CAST((CAST(((big_n - df) * 1000) // df AS HUGEINT) * (44 * CAST(tf AS HUGEINT) * big_t))
          |            // (20 * CAST(tf AS HUGEINT) * big_t + 6 * CAST(big_t AS HUGEINT) + 18 * CAST(dl AS HUGEINT) * big_n) AS BIGINT) AS contrib""".stripMargin
      else
        """((((big_n - df) * 1000) // df) * (44 * tf * big_t))
          |            // (20 * tf * big_t + 6 * big_t + 18 * dl * big_n) AS contrib""".stripMargin
    s"""tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |        FROM documents WHERE $docsWhere),
       |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       |dfr AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS big_t,
       |               CAST(count(DISTINCT doc_id) AS BIGINT) AS big_n FROM tok),
       |qterms AS (${qtermsSelect.getOrElse(
             s"SELECT DISTINCT doc_id AS qid, word FROM tok WHERE doc_id < $NQueriesB")}),
       |ctb AS (SELECT q.qid, tf.doc_id,
       |          $ctbExpr
       |        FROM tf
       |        JOIN dfr ON dfr.word = tf.word
       |        JOIN qterms q ON q.word = tf.word
       |        CROSS JOIN tot
       |        JOIN dl ON dl.doc_id = tf.doc_id),
       |bm AS (SELECT qid, doc_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |         SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
       |                row_number() OVER (PARTITION BY qid
       |                  ORDER BY sum(contrib) DESC, doc_id ASC) AS rnk
       |         FROM ctb GROUP BY qid, doc_id)
       |       WHERE rnk <= $n)""".stripMargin
  }

  private[operators] def bm25Cte(n: Int): String = bm25CteW(n, wide = false)

  /** The ONLINE-request twin CTE chain: the index tables (tf/dl/df/tot)
    * still derive from the corpus — they are at-rest index STATE — but
    * the query terms are the request's own LITERALS (a real request
    * arrives with its text; the serving engine never derives terms from
    * the corpus). This is the SQL mirror of bm25ServeTerms' contract. */
  private[operators] def bm25CteOnline(n: Int, terms: Seq[(Long, String)]): String = {
    require(terms.nonEmpty, "bm25CteOnline: empty request term set")
    val values = terms
      .map { case (q, w) => s"($q, '${w.replace("'", "''")}')" }
      .mkString(", ")
    bm25CteW(n, wide = false, qtermsSelect = Some(
      s"SELECT CAST(qid AS BIGINT) AS qid, word FROM (VALUES $values) AS t(qid, word)"))
  }

  val bm25SearchSql: String =
    s"""WITH ${bm25Cte(K)}
       |SELECT qid, doc_id, score, "rank" FROM bm ORDER BY qid, "rank"""".stripMargin

  val bm25SearchWideSql: String =
    s"""WITH ${bm25CteW(K, wide = true)}
       |SELECT qid, doc_id, score, "rank" FROM bm ORDER BY qid, "rank"""".stripMargin

  /** The deletion twin: a from-scratch BM25 over the SURVIVING corpus
    * — df/dl/totals all re-derive from the filtered documents, which
    * is exactly what the merge-on-read adjustments must reproduce. */
  val bm25DeleteSql: String =
    s"""WITH ${bm25CteW(K, wide = false,
         docsWhere = s"NOT (doc_id % $DeleteMod = $DeleteRem AND doc_id >= $NQueriesB)")}
       |SELECT qid, doc_id, score, "rank" FROM bm ORDER BY qid, "rank"""".stripMargin

  val hybridRrfSql: String =
    s"""WITH $hybridCtes
       |SELECT qid, id, vec_rank, bm25_rank, rrf, CAST(rnk AS INT) AS "rank"
       |FROM hy ORDER BY qid, rnk""".stripMargin

  /** CTE chain deriving the fused hybrid top-K list `hy` (with both
    * source ranks and the rrf score) — shared by the
    * retrieval_comparison and mmr_combined oracles. */
  private[graft] def hybridCtes: String = {
    import graft.OracleSql
    s"""${bm25Cte(TopN)},
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQueriesB),
       |vs AS (SELECT q.qid, e.vec_id, ${OracleSql.cosine("q.qv", "e.embedding")} AS score
       |       FROM q CROSS JOIN embeddings e),
       |vec AS (SELECT qid, vec_id AS id, CAST(rnk AS INT) AS vec_rank FROM (
       |          SELECT *, row_number() OVER (PARTITION BY qid
       |            ORDER BY score DESC, vec_id ASC) AS rnk FROM vs)
       |        WHERE rnk <= $TopN),
       |fused AS (SELECT coalesce(vec.qid, bm.qid) AS qid,
       |                 coalesce(vec.id, bm.doc_id) AS id,
       |                 vec.vec_rank AS vec_rank, bm."rank" AS bm25_rank,
       |                 coalesce(1.0e0 / ($RrfK + vec.vec_rank), 0.0e0)
       |                   + coalesce(1.0e0 / ($RrfK + bm."rank"), 0.0e0) AS rrf
       |          FROM vec FULL OUTER JOIN bm
       |            ON bm.qid = vec.qid AND bm.doc_id = vec.id),
       |hy AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id ASC) AS rnk
       |  FROM fused) WHERE rnk <= $K)""".stripMargin
  }

  /** The same comparison derived inside one SQL statement: hybrid's
    * fused CTEs re-derived from bm25Cte(TopN) + the exact-cosine rank
    * CTE, per-query counts off rank nullability + a d10 ∩ b10 join. */
  val retrievalComparisonSql: String = {
    s"""WITH $hybridCtes,
       |d10 AS (SELECT qid, id FROM vec WHERE vec_rank <= $K),
       |b10 AS (SELECT qid, doc_id AS id FROM bm WHERE "rank" <= $K),
       |ov AS (SELECT d10.qid, CAST(count(*) AS BIGINT) AS dense_bm25_overlap
       |       FROM d10 JOIN b10 ON b10.qid = d10.qid AND b10.id = d10.id
       |       GROUP BY d10.qid),
       |hp AS (SELECT qid,
       |  CAST(sum(CASE WHEN vec_rank IS NOT NULL AND bm25_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hybrid_both,
       |  CAST(sum(CASE WHEN vec_rank IS NOT NULL AND bm25_rank IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS hybrid_dense_only,
       |  CAST(sum(CASE WHEN vec_rank IS NULL AND bm25_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hybrid_bm25_only
       |  FROM hy GROUP BY qid)
       |SELECT hp.qid, coalesce(ov.dense_bm25_overlap, 0) AS dense_bm25_overlap,
       |       hybrid_both, hybrid_dense_only, hybrid_bm25_only
       |FROM hp LEFT JOIN ov ON ov.qid = hp.qid
       |ORDER BY hp.qid""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_search" -> (bm25Search _),
    "bm25_wide" -> (bm25SearchWide _),
    "bm25_delete" -> (bm25SearchDeleted _),
    "hybrid_rrf" -> (hybridRrf _),
    "retrieval_comparison" -> (retrievalComparison _))

  val oracles: Map[String, String] = Map(
    "bm25_search" -> bm25SearchSql,
    "bm25_wide" -> bm25SearchWideSql,
    "bm25_delete" -> bm25DeleteSql,
    "hybrid_rrf" -> hybridRrfSql,
    "retrieval_comparison" -> retrievalComparisonSql)
}
