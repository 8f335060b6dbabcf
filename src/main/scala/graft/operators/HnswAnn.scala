package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.Tables

/** Graph-partitioned HNSW emulation — the Spark re-expression of the
  * reference's actual index structure (vector_index.py index_type=
  * 'hnsw', hnswlib). A single global navigable-small-world graph does
  * not distribute; the cluster-scale shape is:
  *
  *   IVF routing  →  per-bucket NSW graphs  →  beam search  →  merge
  *
  * The corpus is routed to nlist centroid buckets (same deterministic
  * k-means as IvfIndex); each bucket independently builds a
  * navigable-small-world graph (insertion in vec_id order, each node
  * linked to its M nearest among already-inserted nodes, with
  * back-links pruned to M — the classic NSW construction, the level-0
  * layer of HNSW). A query fans out only to its nprobe nearest
  * buckets, beam-searches each local graph (ef candidates), and the
  * per-bucket partials merge into a global top-k.
  *
  * Scale posture (100 TB): buckets are data-partition-sized — each
  * graph build is executor-local over one group (flatMapGroups), no
  * global structure, no driver state. Queries are broadcast; only
  * nprobe/nlist of the corpus is touched per query, and the merged
  * shuffle is bounded by buckets·q·k rows, never the corpus. Bucket
  * membership comes from the semantic key (centroid id), NOT from
  * physical partitioning — results are independent of
  * spark.sql.shuffle.partitions / core count (determinism audit holds).
  *
  * Determinism: insertion order is vec_id order within a bucket,
  * neighbor sets break distance ties by id, and the beam search uses
  * (dist, id)-lexicographic heaps — two runs (any parallelism) produce
  * identical results. Spec'd in HnswSpec: recall vs exact kNN,
  * self-match, determinism, and bucket-routing agreement with IVF.
  */
object HnswAnn {
  val M = 8
  val EfSearch = 48
  val NList = 16
  val NProbe = 4

  /** Primitive binary heap over (dist, node) pairs, lexicographic —
    * the NSW beam's candidate/result structures without the boxed
    * PriorityQueue[(Double, Int)] tuples (the graph BUILD runs one
    * beam per insert; at 1M vectors the tuple churn dominated build
    * time — same lesson as plans.TopKPrim). `max = false` pops the
    * (dist, node)-least element (candidate frontier), `max = true`
    * the greatest (worst of the result set). Ordering is identical to
    * the Ordering.Tuple2 it replaces, so beam visit order, insert and
    * termination decisions — the exact sequence the recursive-CTE
    * oracle replays — are unchanged. */
  final class BeamHeap(initCap: Int, max: Boolean) {
    private[this] var ds = new Array[Double](math.max(4, initCap))
    private[this] var ns = new Array[Int](math.max(4, initCap))
    private[this] var n = 0
    def size: Int = n
    def nonEmpty: Boolean = n > 0
    def clear(): Unit = n = 0
    def headD: Double = ds(0)
    def headN: Int = ns(0)
    // strict (d, node) lexicographic "comes first" for this heap's sense
    private def before(d1: Double, n1: Int, d2: Double, n2: Int): Boolean =
      if (max) d1 > d2 || (d1 == d2 && n1 > n2)
      else d1 < d2 || (d1 == d2 && n1 < n2)
    def enqueue(d: Double, node: Int): Unit = {
      if (n == ds.length) {
        ds = java.util.Arrays.copyOf(ds, n * 2)
        ns = java.util.Arrays.copyOf(ns, n * 2)
      }
      var i = n; n += 1
      while (i > 0 && before(d, node, ds((i - 1) / 2), ns((i - 1) / 2))) {
        ds(i) = ds((i - 1) / 2); ns(i) = ns((i - 1) / 2); i = (i - 1) / 2
      }
      ds(i) = d; ns(i) = node
    }
    /** Pops the head; returns nothing — read headD/headN first. */
    def dequeue(): Unit = {
      if (n == 0) throw new NoSuchElementException("BeamHeap.dequeue on empty heap")
      n -= 1
      val d = ds(n); val node = ns(n)
      var i = 0
      var c = 1
      while (c < n) {
        if (c + 1 < n && before(ds(c + 1), ns(c + 1), ds(c), ns(c))) c += 1
        if (before(ds(c), ns(c), d, node)) {
          ds(i) = ds(c); ns(i) = ns(c); i = c; c = 2 * i + 1
        } else c = n
      }
      ds(i) = d; ns(i) = node
    }
    /** Drain into (dist, node) pairs, unordered. */
    def toPairs: Array[(Double, Int)] =
      Array.tabulate(n)(i => (ds(i), ns(i)))
  }

  /** One NSW graph over the vectors of a single bucket. */
  final class NswGraph(val ids: Array[Long], val vecs: Array[Array[Double]]) {
    val n: Int = ids.length
    private val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])

    private def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val df = a(i) - b(i); s += df * df; i += 1 }
      s
    }

    /** Greedy beam search over the CURRENT graph from `entry`
      * (default 0). Returns up to ef (dist, node) pairs,
      * (dist, id)-ordered. */
    def beam(q: Array[Double], ef: Int, upTo: Int, entry: Int = 0): Array[(Double, Int)] = {
      if (upTo == 0) return Array.empty
      val visited = new java.util.BitSet(upTo)
      // candidates: min-heap by (dist, id); results: max-heap by (dist, id).
      // Primitive heaps (BeamHeap) with the identical lexicographic
      // comparator: every decision below reads only the heap's unique
      // (dist, node)-extreme element, so the walk is unchanged.
      val cand = new BeamHeap(ef + 8, max = false)
      val res = new BeamHeap(ef + 1, max = true)
      val d0 = d2(q, vecs(entry))
      cand.enqueue(d0, entry); res.enqueue(d0, entry); visited.set(entry)
      var run = true
      while (run && cand.nonEmpty) {
        val dc = cand.headD; val c = cand.headN
        cand.dequeue()
        if (res.size >= ef && dc > res.headD) { run = false }
        else {
          val nbrs = adj(c)
          var i = 0
          while (i < nbrs.length) {
            val nb = nbrs(i)
            if (nb < upTo && !visited.get(nb)) {
              visited.set(nb)
              val dn = d2(q, vecs(nb))
              if (res.size < ef || dn < res.headD ||
                  (dn == res.headD && nb < res.headN)) {
                cand.enqueue(dn, nb)
                res.enqueue(dn, nb)
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      res.toPairs.sortBy(t => (t._1, ids(t._2)))
    }

    /** NSW build: insert nodes in index (= vec_id) order; node i links
      * to its M nearest among 0..i-1 found by beam search, with
      * reciprocal back-links pruned to the M nearest by distance. */
    def build(): this.type = {
      var i = 1
      while (i < n) {
        val found = beam(vecs(i), math.max(EfSearch, M), i).take(M)
        found.foreach { case (_, j) =>
          adj(i) += j
          adj(j) += i
          if (adj(j).length > M) {
            // prune j's links to the M nearest (ties by id) — keeps
            // degree bounded, the NSW invariant
            val pruned = adj(j).toArray
              .map(x => (d2(vecs(j), vecs(x)), ids(x), x))
              .sortBy(t => (t._1, t._2)).take(M).map(_._3)
            adj(j).clear(); adj(j) ++= pruned
          }
        }
        i += 1
      }
      this
    }

    def search(q: Array[Double], k: Int): Array[(Long, Double)] =
      beam(q, EfSearch, n).take(k).map { case (d, node) => (ids(node), d) }

    /** Multi-probe search: independent beams from `nEntries`
      * vec_id-rank-spread entry points (indices i·n/E — deterministic,
      * graph-intrinsic), candidate union. Entry diversity recovers
      * neighbors a single greedy descent walks past (a local minimum
      * near entry 0), at nEntries× beam cost — still touching only
      * this bucket. */
    def searchMulti(q: Array[Double], nEntries: Int): Array[Long] = {
      val es = Array.tabulate(nEntries)(e => (e.toLong * n / nEntries).toInt).distinct
      es.flatMap(e => beam(q, EfSearch, n, e)).map { case (_, node) => ids(node) }.distinct
    }

    /** Install a previously-built adjacency (vec_id → neighbor vec_ids
      * in stored order) instead of running build() — lets the graded
      * search replay an executor-built graph without rebuilding it. */
    def withAdj(adjByid: scala.collection.Map[Long, Array[Long]]): this.type = {
      val idx = ids.zipWithIndex.toMap
      var i = 0
      while (i < n) {
        val nbrs = adjByid.getOrElse(ids(i), sys.error(
          s"installed adjacency missing vec_id ${ids(i)}: bucket assignment " +
            "diverged from the graph-build run (centroid drift?)"))
        adj(i).clear()
        adj(i) ++= nbrs.map(id => idx.getOrElse(id, sys.error(
          s"installed neighbor vec_id $id of ${ids(i)} is not in this bucket: " +
            "bucket assignment diverged from the graph-build run")))
        i += 1
      }
      this
    }

    /** Adjacency of node i as vec_ids in STORED order — the list the
      * oracle replays (neighbor processing order matters to the beam). */
    def adjIds(i: Int): Array[Long] = adj(i).map(ids(_)).toArray
  }

  /** Unit-normalize (L2 on unit vectors is monotone in cosine —
    * hnswlib's cosine space does the same). */
  def unitArr(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val nm = math.sqrt(s)
    if (nm == 0.0) v else v.map(_ / nm)
  }

  /** Full operator: IVF-assign the corpus (`centroidsOpt`, or a
    * codebook trained here), build each bucket's NSW graph into the
    * shard table (nswShards), and search it through searchShards — the
    * one NSW search path the graded keys and stream_nsw share. */
  def hnswSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                 nlist: Int = NList, nprobe: Int = NProbe,
                 centroidsOpt: Option[Array[Array[Double]]] = None,
                 nEntries: Int = 1,
                 probesOverride: Map[Long, Array[Int]] = null): DataFrame = {
    val centroids = centroidsOpt.getOrElse(
      IvfIndex.trainCentroids(IvfIndex.trainSample(corpus), nlist, 10))
    searchShards(nswShards(IvfIndex.assign(corpus, centroids)), corpus, queries,
      centroids, nEntries, nprobe, k, probesOverride)
  }

  // ------------------------------------------------------------ graded query
  //
  // The graph BUILD is the trained structure (like k-means centroids /
  // PQ codebooks): deterministic but not SQL-expressible, so the twin
  // embeds it as literals, read from the same catalogued build the
  // queries serve from (nswShardsFor). The SEARCH is replayed
  // INDEPENDENTLY by the oracle: probe selection recomputed from
  // centroid literals, the beam walk re-executed step by step over the
  // built adjacency by a
  // recursive CTE (same heap orders, same insert/termination rules,
  // same sequential neighbor processing), and the exact cosine re-rank
  // recomputed from the raw table. The graphs are built ONCE, on the
  // executors, directly into the one-row-per-bucket shard table
  // (nswShards) — the at-rest index form. The batch search equi-joins
  // the broadcast routed queries against that shard table with a
  // per-partition graph cache (searchShards), exactly the serve shape
  // stream_nsw runs; the ONLY corpus-sized collect is adjFromShards,
  // which the twin alone runs, at graded SF only — no search path
  // consumes driver-held graph state.

  /** Serve-ready NSW index shards: ONE row per bucket carrying the
    * bucket's sorted ids, unit vectors (flattened row-major), and
    * adjacency aligned to ids — the at-rest form both the streaming
    * serve (stream_nsw) and the batch graded queries equi-join
    * against. Each bucket's graph is constructed executor-side inside
    * this pass (deterministic vec_id-order insertion), one group per
    * bucket, no driver state. Grouped on the `centroid` column itself,
    * so an input already hash-partitioned on it adds no exchange. */
  def nswShards(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.select(col("centroid"), col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)))
      .groupBy(col("centroid")).as[Int, (Int, Long, Seq[Double])]
      .mapGroups { (bucket, it) =>
        val rows = it.toArray.sortBy(_._2) // vec_id order: deterministic build
        val vecs = rows.map(t => unitArr(t._3.toArray))
        val g = new NswGraph(rows.map(_._2), vecs).build()
        (bucket, g.ids.toSeq, vecs.flatten.toSeq,
          g.ids.indices.map(i => g.adjIds(i).toSeq).toSeq)
      }.toDF("bucket", "ids", "vecs", "adj")
  }

  /** Incremental maintenance of the at-rest NSW shard table — the
    * append path that does NOT rebuild the whole layout: an ingest
    * batch touches a subset of buckets, and only THOSE buckets'
    * graphs rebuild (from the centroid-partitioned corpus layout,
    * read partition-pruned to the touched cells); every untouched
    * bucket's shard row carries over byte-for-byte without being
    * read, let alone rebuilt. Deterministic vec_id-order insertion
    * makes a touched bucket's rebuild from its full (old + new) row
    * set bit-equal to the whole-corpus build's shard — so the
    * incrementally maintained table IS the rebuilt table (spec'd),
    * at O(touched buckets) cost instead of O(corpus). At 100 TB an
    * append that lands in 50 of 50k cells rebuilds 0.1% of the
    * index. The rebuild groups at the session's full width
    * (Mat.sessionWidth): its cost is the per-bucket graph builds, so
    * inside a streaming replay, whose shuffle-partition conf is sized
    * from the fed rows, it must not collapse onto one task. */
  def incrementalShards(spark: SparkSession, corpusLayoutDir: String,
      oldShards: DataFrame, touched: Seq[Int]): DataFrame = {
    val touchedBoxed = touched.map(Int.box)
    val rebuilt = nswShards(
      spark.read.parquet(corpusLayoutDir)
        .filter(col("centroid").isin(touchedBoxed: _*)) // PartitionFilters
        .select(col("vec_id"), col("embedding"),
          col("centroid").cast("int").as("centroid"))
        .repartition(graft.Mat.sessionWidth(spark), col("centroid")))
    oldShards.filter(!col("bucket").isin(touchedBoxed: _*))
      .unionByName(rebuilt)
  }

  /** Compact a multi-generation NSW shard layout (the file set
    * incremental writes leave behind — one file per append per task)
    * into one file per `files` target — the graph layout's sibling of
    * IvfIndex.compactIndex. Content-identical rewrite into a NEW
    * directory, the only rewrite protocol safe with live readers
    * (an in-place rewrite would delete files under a running scan);
    * the caller swaps serves to `dst` afterwards. Round10Spec races
    * live NSW serves against this and pins bit-equality throughout. */
  def compactShards(spark: SparkSession, src: String, dst: String,
      files: Int = 1): Unit =
    spark.read.parquet(src).repartition(files)
      .write.mode("overwrite").parquet(dst)

  /** Flatten the shard table back to (bucket, vec_id, neighbor ids)
    * rows — a corpus-sized COLLECT used ONLY by the twins, to embed
    * the trained adjacency as oracle SQL literals at graded SF (the literal set
    * the recursive-CTE beam replay needs anyway). Column-pruned to
    * (bucket, ids, adj): the flattened unit vectors never move. */
  def adjFromShards(shards: DataFrame): Array[(Int, Long, Array[Long])] =
    shards.select("bucket", "ids", "adj").collect().flatMap { r =>
      val ids = r.getSeq[Long](1)
      val adj = r.getSeq[Seq[Long]](2)
      ids.indices.map(i => (r.getInt(0), ids(i), adj(i).toArray))
    }.sortBy(t => (t._1, t._2))

  /** Rebuild one bucket's NswGraph from its shard row (ids, flattened
    * unit vectors, aligned adjacency). */
  def graphFromShard(ids: Seq[Long], flat: Seq[Double],
                     adjSeq: Seq[Seq[Long]]): NswGraph = {
    val n = ids.length
    val dim = if (n == 0) 1 else flat.length / n
    val idsA = ids.toArray
    // slice an array, not the Seq: a decoded shard arrives as a List,
    // whose slice walks from the head (quadratic in the bucket size)
    val flatA = flat.toArray
    val vecsA = Array.tabulate(n)(i => flatA.slice(i * dim, (i + 1) * dim))
    val amap: Map[Long, Array[Long]] = idsA.zip(adjSeq.map(_.toArray)).toMap
    new NswGraph(idsA, vecsA).withAdj(amap)
  }

  /** Cross-bucket beam continuation budget, in beam-candidate units:
    * a query keeps spilling to its next-nearest bucket (beyond the
    * first NProbe) while the beams probed so far can have yielded
    * fewer than this many candidates. A connected NSW beam returns
    * exactly min(bucketSize, ef) nodes — the bucket IS exhausted below
    * ef — so "beam exhausted early" is a pure function of bucket size
    * and the continuation rule replays exactly in the SQL twin. */
  val SpillBudget: Int = NProbe * EfSearch

  /** Hard ceiling on the continuation: a corpus of many empty/tiny
    * buckets contributes ~0 candidates per probe, so the budget rule
    * alone would fan a query out to all nlist buckets. Serve cost per
    * query is bounded by this cap regardless of nlist (8× the base
    * probe count keeps the sf0.001/0.01 graded behavior unchanged —
    * nlist=16 < 32 — while binding at large nlist). */
  val MaxSpillProbes: Int = NProbe * 8

  /** Probe set under beam continuation: buckets in (dist, idx) order;
    * bucket at rank r (1-based) is probed iff r <= NProbe OR (the
    * cumulative min(size, ef) of the buckets BEFORE it is under
    * SpillBudget AND r <= MaxSpillProbes). */
  def spillProbes(centroids: Array[Array[Double]], sizes: Map[Int, Long],
                  v: Array[Double]): Array[Int] = {
    val ordered = IvfIndex.nearestN(centroids, v, centroids.length)
    val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
    var cum = 0L
    ordered.zipWithIndex.foreach { case (c, i) =>
      if (i < NProbe || (cum < SpillBudget && i < MaxSpillProbes)) sel += c
      cum += math.min(sizes.getOrElse(c, 0L), EfSearch.toLong)
    }
    sel.toArray
  }

  /** Batch search over the at-rest shard table — the same serve shape
    * as stream_nsw: queries route to their probed buckets (codegen
    * nearest-centroids expression, or an explicit per-query probe
    * table when the spill rule overrides), the routed SMALL side
    * broadcasts into an equi-join against the one-row-per-bucket
    * shards, and a per-partition cache rebuilds each bucket's graph at
    * most once per task. The distinct candidates join back onto the
    * corpus (Knn.rerankOnto, planner-chosen join) and rerank to each
    * query's top-k.
    * No corpus-sized driver state on this path. */
  private def searchShards(shards: DataFrame, corpus: DataFrame,
                           queries: DataFrame,
                           centroids: Array[Array[Double]],
                           nEntries: Int, nprobe: Int, k: Int,
                           probesOverride: Map[Long, Array[Int]] = null): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q2 = queries.select(col("vec_id").cast("long").as("qid"),
      col("embedding").cast(ArrayType(DoubleType)).as("qv"))
    val routed =
      if (probesOverride == null)
        q2.withColumn("centroid", explode(
          org.apache.spark.sql.graftshim.Shims.column(NearestCentroidsExpr(
            org.apache.spark.sql.graftshim.Shims.expression(col("qv")),
            centroids, nprobe))))
      else
        q2.join(probesOverride.toSeq
          .flatMap { case (qid, bs) => bs.map(b => (qid, b)) }
          .toDF("qid", "centroid"), "qid")
    val joined = shards.join(broadcast(routed), col("bucket") === col("centroid"))
      .select(col("qid"), col("qv"), col("bucket"), col("ids"), col("vecs"), col("adj"))
      .as[(Long, Seq[Double], Int, Seq[Long], Seq[Double], Seq[Seq[Long]])]
    val partials = joined.mapPartitions { it =>
      val cache = scala.collection.mutable.HashMap.empty[Int, NswGraph]
      it.flatMap { case (qid, qv, bucket, ids, flat, adjSeq) =>
        val g = cache.getOrElseUpdate(bucket, graphFromShard(ids, flat, adjSeq))
        val qu = unitArr(qv.toArray)
        if (nEntries == 1) g.search(qu, EfSearch).map { case (id, _) => (qid, id) }
        else g.searchMulti(qu, nEntries).map(id => (qid, id))
      }
    }.toDF("qid", "vec_id")
    Knn.rerankOnto(corpus, partials.distinct(), Knn.queryVectors(queries), k,
        broadcastCands = false)
      .select("qid", "vec_id", "score", "rank")
      .orderBy("qid", "rank")
  }

  /** The graded NSW shard table over the corpus codebook, built once
    * per `embeddings` content and Spark application (graft.Catalog)
    * and shared by the three graded graph keys and their twins. */
  private[graft] def nswShardsFor(s: SparkSession, dir: String): DataFrame =
    graft.Catalog.getOrBuild("hnsw.shards", s, dir, Seq("embeddings")) {
      nswShards(IvfIndex.assign(Tables.load(s, dir, "embeddings"),
        IvfIndex.centroidsFor(s, dir, NList))).localCheckpoint(true)
    }

  private def gradedRun(s: SparkSession, dir: String, nEntries: Int): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
    searchShards(nswShardsFor(s, dir), emb, queries,
      IvfIndex.centroidsFor(s, dir, NList), nEntries, NProbe, VectorSearch.K)
  }

  def hnswGraded(s: SparkSession, dir: String): DataFrame = gradedRun(s, dir, 1)

  /** Cross-bucket beam continuation, GRADED: same catalogued graphs and
    * single-entry beams as hnsw_search, but each query's probe set
    * extends past NProbe while its beams-so-far were exhausted below
    * the SpillBudget (small buckets yield min(size, ef) < ef
    * candidates each — without continuation those queries simply see
    * fewer candidates). The probe set is a superset of hnsw_search's,
    * so recall is monotone non-decreasing (HnswSpec asserts it). */
  def hnswSpill(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < VectorSearch.NQueries)
    val centroids = IvfIndex.centroidsFor(s, dir, NList)
    val shards = nswShardsFor(s, dir)
    // bucket sizes: an nlist-row aggregate (not corpus-sized)
    val sizes: Map[Int, Long] = IvfIndex.assign(emb, centroids)
      .groupBy("centroid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probes = queries.select(col("vec_id").cast("long"),
        col("embedding").cast(ArrayType(DoubleType))).collect()
      .map(r => r.getLong(0) -> spillProbes(centroids, sizes, r.getSeq[Double](1).toArray))
      .toMap
    searchShards(shards, emb, queries, centroids, 1, NProbe, VectorSearch.K, probes)
  }

  /** Multi-probe variant: beams from MultiProbeEntries vec_id-rank-
    * spread entry points per bucket (candidate union), same exact
    * re-rank. Same trained structure as hnsw_search (identical
    * deterministic build), so the catalogued shards are shared. */
  val MultiProbeEntries = 3
  def hnswMultiprobe(s: SparkSession, dir: String): DataFrame =
    gradedRun(s, dir, MultiProbeEntries)

  /** The beam-walk oracle. State per (qid, probed bucket):
    * vis (visited vec_ids), cand (min-ordered (d, id) structs),
    * res (≤ ef best, asc; worst = last), nbrs (current node's remaining
    * adjacency, stored order). One recursion step = one neighbor
    * examined (sequential res evolution, as in NswGraph.beam) or one
    * candidate popped. */
  private def hnswSql(centroids: Array[Array[Double]],
                      adj: Array[(Int, Long, Array[Long])],
                      entSql: String,
                      prSqlOverride: String = null): String = {
    import graft.OracleSql
    val nq = VectorSearch.NQueries; val k = VectorSearch.K
    val nlist = centroids.length; val ef = EfSearch
    val prSql = if (prSqlOverride != null) prSqlOverride else
      s"""SELECT qid, c AS bucket FROM (
         |   SELECT qid, c, row_number() OVER (PARTITION BY qid ORDER BY dist ASC, c ASC) AS rn
         |   FROM pe) WHERE rn <= $NProbe""".stripMargin
    val adjRows = adj.map { case (b, v, ns) =>
      s"($b, $v, [${ns.mkString(", ")}]::BIGINT[])"
    }.mkString(", ")
    def d2(a: String, b: String): String =
      (1 to OracleSql.Dim).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
        .mkString("(", " + ", ")")
    val dn = d2("qu.uv", "nu.uv")
    val worstD = "b.res[len(b.res)].d"; val worstN = "b.res[len(b.res)].n"
    val ins = s"""NOT list_contains(b.vis, b.nbrs[1])
                 |                AND (len(b.res) < $ef OR $dn < $worstD
                 |                     OR ($dn = $worstD AND b.nbrs[1] < $worstN))""".stripMargin
    s"""WITH RECURSIVE
       |adj(bucket, node, nbrs) AS (SELECT * FROM (VALUES $adjRows) t(bucket, node, nbrs)),
       |u AS MATERIALIZED (
       |  SELECT vec_id, CASE WHEN nm = 0 THEN dv
       |                      ELSE list_transform(dv, x -> x / nm) END AS uv
       |  FROM (SELECT vec_id,
       |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
       |          sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |        FROM embeddings)),
       |q AS MATERIALIZED (SELECT vec_id AS qid, uv FROM u WHERE vec_id < $nq),
       |dq AS (SELECT vec_id, ${OracleSql.distList("embedding", centroids)} AS dl
       |       FROM embeddings WHERE vec_id < $nq),
       |pe AS (SELECT vec_id AS qid, unnest(dl) AS dist, unnest(range(0, $nlist)) AS c
       |       FROM dq),
       |pr AS ($prSql),
       |ent AS ($entSql),
       |beam(qid, bucket, v0, vis, cand, res, nbrs, done) AS (
       |  SELECT p.qid, p.bucket, e.v0,
       |    [e.v0], [{'d': ${d2("qu.uv", "eu.uv")}, 'n': e.v0}],
       |    [{'d': ${d2("qu.uv", "eu.uv")}, 'n': e.v0}],
       |    CAST([] AS BIGINT[]), false
       |  FROM pr p JOIN ent e ON e.bucket = p.bucket
       |  JOIN q qu ON qu.qid = p.qid JOIN u eu ON eu.vec_id = e.v0
       |  UNION ALL
       |  SELECT b.qid, b.bucket, b.v0,
       |    CASE WHEN len(b.nbrs) > 0 AND NOT list_contains(b.vis, b.nbrs[1])
       |         THEN list_append(b.vis, b.nbrs[1]) ELSE b.vis END,
       |    CASE WHEN len(b.nbrs) > 0 THEN
       |      CASE WHEN $ins
       |           THEN list_sort(list_append(b.cand, {'d': $dn, 'n': b.nbrs[1]}))
       |           ELSE b.cand END
       |      ELSE b.cand[2:] END,
       |    CASE WHEN len(b.nbrs) > 0 AND $ins
       |         THEN list_sort(list_append(b.res, {'d': $dn, 'n': b.nbrs[1]}))[1:$ef]
       |         ELSE b.res END,
       |    CASE WHEN len(b.nbrs) > 0 THEN b.nbrs[2:]
       |         WHEN len(b.cand) > 0 AND NOT (len(b.res) >= $ef AND b.cand[1].d > $worstD)
       |         THEN a.nbrs
       |         ELSE CAST([] AS BIGINT[]) END,
       |    CASE WHEN len(b.nbrs) > 0 THEN false
       |         WHEN len(b.cand) = 0 THEN true
       |         WHEN len(b.res) >= $ef AND b.cand[1].d > $worstD THEN true
       |         ELSE false END
       |  FROM beam b
       |  JOIN q qu ON qu.qid = b.qid
       |  LEFT JOIN u nu ON len(b.nbrs) > 0 AND nu.vec_id = b.nbrs[1]
       |  LEFT JOIN adj a ON len(b.nbrs) = 0 AND len(b.cand) > 0
       |                 AND a.bucket = b.bucket AND a.node = b.cand[1].n
       |  WHERE NOT b.done
       |),
       |cand AS (SELECT DISTINCT qid, unnest(res).n AS vec_id FROM beam WHERE done),
       |nrm AS (SELECT vec_id, sqrt(${OracleSql.dot("embedding", "embedding")}) AS nm
       |        FROM embeddings),
       |qq AS (SELECT e.vec_id AS qid, e.embedding AS qv, n.nm AS qn
       |       FROM embeddings e JOIN nrm n ON e.vec_id = n.vec_id WHERE e.vec_id < $nq),
       |s AS (SELECT c.qid, e.vec_id,
       |        ${OracleSql.dot("qq.qv", "e.embedding")} / (n.nm * qq.qn) AS score
       |      FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |      JOIN nrm n ON n.vec_id = e.vec_id JOIN qq ON qq.qid = c.qid)
       |SELECT qid, vec_id, score, CAST(rnk AS INT) AS "rank" FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
  }

  private val SingleEntSql = "SELECT bucket, min(node) AS v0 FROM adj GROUP BY bucket"

  /** Continuation probe rule: rank by (dist, c); probe iff rank <=
    * NProbe or the cumulative min(bucket size, ef) BEFORE this rank is
    * under SpillBudget. Bucket sizes recomputed from the assignment
    * argmin, the same independently-proven route as ivf_adaptive. */
  private def spillPrSql(centroids: Array[Array[Double]]): String =
    s"""SELECT qid, c AS bucket FROM (
       |   SELECT pe.qid, pe.c,
       |     row_number() OVER (PARTITION BY pe.qid ORDER BY pe.dist ASC, pe.c ASC) AS rn,
       |     coalesce(sum(least(coalesce(bs.sz, 0), $EfSearch)) OVER (
       |       PARTITION BY pe.qid ORDER BY pe.dist ASC, pe.c ASC
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |   FROM pe LEFT JOIN (
       |     SELECT centroid, count(*) AS sz FROM (
       |       SELECT CAST(list_position(adl, list_min(adl)) - 1 AS INT) AS centroid FROM (
       |         SELECT ${graft.OracleSql.distList("embedding", centroids)} AS adl
       |         FROM embeddings)) GROUP BY 1) bs
       |   ON bs.centroid = pe.c)
       |WHERE rn <= $NProbe OR (cum_before < $SpillBudget AND rn <= $MaxSpillProbes)""".stripMargin
  /** vec_id-rank-spread entries: index e·n/E per bucket (integer
    * division, 0-based rank over node order) — same rule as
    * NswGraph.searchMulti. */
  private def multiEntSql(e: Int): String =
    s"""SELECT DISTINCT nr.bucket, nr.node AS v0 FROM (
       |    SELECT bucket, node,
       |      row_number() OVER (PARTITION BY bucket ORDER BY node) - 1 AS idx,
       |      count(*) OVER (PARTITION BY bucket) AS nn
       |    FROM adj) nr
       |  JOIN range($e) r(e) ON nr.idx = (r.e * nr.nn) // $e""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("hnsw_search" -> (hnswGraded _),
      "hnsw_multiprobe" -> (hnswMultiprobe _),
      "hnsw_spill" -> (hnswSpill _))

  /** A twin over the catalogued build: codebook + adjacency literals. */
  private def twinOf(sql: (Array[Array[Double]], Array[(Int, Long, Array[Long])]) => String)
      : graft.OracleSql.Twin = (s, d) =>
    sql(IvfIndex.centroidsFor(s, d, NList), adjFromShards(nswShardsFor(s, d)))

  /** The hnsw_search twin — also the streaming NSW keys' twin: their
    * streamed, rebuilt or incrementally folded shard tables equal the
    * whole-corpus build (deterministic vec_id-order insertion;
    * Round10Spec pins the incremental fold), so the gate holds them
    * to its adjacency. */
  private[graft] def searchTwin: graft.OracleSql.Twin = twinOf(hnswSql(_, _, SingleEntSql))

  def oracles: Map[String, graft.OracleSql.Twin] = Map(
    "hnsw_search" -> searchTwin,
    "hnsw_multiprobe" -> twinOf(hnswSql(_, _, multiEntSql(MultiProbeEntries))),
    "hnsw_spill" -> twinOf((c, adj) => hnswSql(c, adj, SingleEntSql, spillPrSql(c))))
}
