package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHashOps

/** Scale-path near-duplicate detection: MinHash + banded LSH and
  * SimHash. Candidate generation shuffles only signatures/keys (never
  * document text); the quadratic verify runs strictly inside LSH
  * buckets, with a bucket-size cap as skew guard — the 100 TB design.
  *
  * dedup_minhash_lsh is verified against the exact all-pairs Jaccard
  * oracle: LSH prunes candidates, the surviving pairs are re-checked
  * with EXACT Jaccard, so output == exact output whenever LSH recall
  * at the threshold is 1 (128 hashes / 64 bands × 2 rows ⇒ a j=0.5
  * pair escapes with p=(1−0.25)^64 ≈ 1e-8; spec'd empirically too).
  */
object Dedup {
  val NumHashes = 128
  val Bands = 64
  val RowsPerBand: Int = NumHashes / Bands
  val JaccardThreshold = 0.5
  /** Skew guard: LSH buckets larger than this are dropped (a bucket
    * this hot means a degenerate band, not near-dups). */
  val MaxBucketSize = 10000

  /** Shingles reduced once to sorted distinct 64-bit hashes (single
    * codegen pass over the text bytes): signature, LSH and verify all
    * work off longs — no string set ops anywhere in the hot loop. */
  def shingleHashes3(text: Column): Column = TextHashOps.shingleHashes(text)

  /** Candidate pairs via banded MinHash-LSH, then exact-Jaccard verify. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = JaccardThreshold): DataFrame = {
    // the fixed 64×2 banding has recall ≈ 1 only at τ ≥ 0.5: a j=0.1
    // pair escapes candidate generation with p ≈ (1−0.01)^64 ≈ 53%, so
    // a lower cutoff would silently drop half its qualifying pairs and
    // break the "output == exact output" contract this operator grades
    require(threshold >= JaccardThreshold,
      s"minhashNearDups: threshold $threshold below the banding's recall-1 " +
        s"floor $JaccardThreshold — use the lossless prefix-filter path " +
        "(prefixJaccardPairs) for low-threshold joins")
    // fan the (unsplittable/coalesced) doc scan out BEFORE the shingle
    // hash + 64-lane signature map — the per-row compute here dwarfs
    // one raw-text exchange (guide §2.5; single-task scans otherwise
    // serialize the whole hashing pass)
    val base = graft.Mat.fanout(docs)
      .select(col(idCol).as("doc_id"), shingleHashes3(col(textCol)).as("sh"))
    val sig = base.withColumn("sig", TextHashOps.minhashSigLong(col("sh"), NumHashes))

    // One row per (doc, band): key = xxhash64(band_idx, row slice).
    val bandKeys = sig.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(Bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))))))
      .select(col("doc_id"), col("pos"), col("col").as("bh"))

    // One shuffle: group each LSH bucket, drop degenerate buckets (skew
    // guard), and emit the in-bucket pair combinations directly — no
    // self-join, no second shuffle of the band keys.
    val ids = array_sort(collect_list(col("doc_id")))
    val pairsOfBucket = {
      val n = size(col("ids"))
      flatten(transform(sequence(lit(1), n - 1), i =>
        transform(slice(col("ids"), i + 1, n - i), y =>
          struct(element_at(col("ids"), i).as("doc_a"), y.as("doc_b")))))
    }
    val cand = bandKeys.groupBy("pos", "bh").agg(ids.as("ids"))
      .filter(size(col("ids")).between(2, MaxBucketSize))
      .select(explode(pairsOfBucket).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

    // Exact verify inside candidates only: merge-join Jaccard over the
    // (already sorted) hash sets — single O(n) pass, no per-pair set
    // builds. The candidate pair set is orders of magnitude smaller
    // than the corpus, so broadcast IT and stream the shingle table —
    // no shuffle of the (wide) hash arrays at any scale.
    val shA = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val shB = base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    broadcast(cand).join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("jaccard", graft.functions.JaccardOps.sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dups: 64-bit fingerprints, blocked on 4×16-bit bands
    * (pigeonhole: hamming ≤ 3 ⇒ at least one identical band), verified
    * by exact hamming distance. */
  val SimHashMaxHamming = 3
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val base = graft.Mat.fanout(docs)
      .select(col(idCol).as("doc_id"), TextHashOps.simhash64(toks).as("sh64"))
    val chunks = array((0 until 4).map(b =>
      shiftright(col("sh64"), b * 16).bitwiseAND(lit(0xffffL))): _*)
    val banded = base.select(col("doc_id"), col("sh64"), posexplode(chunks))
      .select(col("doc_id"), col("sh64"), col("pos"), col("col").as("chunk"))
    val a = banded.select(col("pos"), col("chunk"), col("doc_id").as("doc_a"), col("sh64").as("ha"))
    val b = banded.select(col("pos"), col("chunk"), col("doc_id").as("doc_b"), col("sh64").as("hb"))
    a.join(b, Seq("pos", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimHashMaxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over a near-dup pair graph → canonical
    * (minimum) doc id per duplicate cluster. A pair graph of at most
    * CcDriverEdgeLimit directed edges fits on the driver, and a
    * union-find beats several Spark jobs per distributed round (the
    * same size-adaptive reasoning as broadcast-join selection); a
    * larger one runs ccLargeStar, O(log n) rounds at any diameter. */
  val CcDriverEdgeLimit = 1000000L

  def connectedComponents(pairs: DataFrame): DataFrame = {
    // Materialize the pair graph ONCE: the count and the collect must
    // not each re-run the (potentially expensive) candidate generation.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    if (edges.count() > CcDriverEdgeLimit) return ccLargeStar(pairs)
    val spark = pairs.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val out = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    spark.createDataFrame(out).toDF("doc_id", "canonical_id").orderBy("doc_id")
  }

  /** Connected components via LARGE-STAR / SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * distributed path of connectedComponents above its driver limit,
    * GRADED on its own against the same
    * recursive-CTE oracle as dedup_clusters. Why it scales where label
    * propagation stalls: each round rewires every node to its
    * neighborhood minimum, HALVING tree heights (O(log n) rounds on
    * any diameter — a path graph needs diameter rounds of label
    * propagation but log rounds here), and both operations are
    * wordcount-shaped (groupBy node → min, re-emit edges); hot
    * high-degree nodes are exactly what large-star is designed around
    * (it attaches the whole neighborhood to the min in one round).
    *
    * large-star: u attaches every LARGER neighbor to m(u) = min(N(u) ∪
    * {u}); small-star: u attaches its ≤ neighbors (and itself) to
    * m(u). Alternate to fixpoint; the surviving edges are stars rooted
    * at component minima, and each node's final min-neighbor IS its
    * canonical id. Deterministic: pure min/grouping algebra, no
    * ordering sensitivity. */
  private[graft] def ccLargeStar(pairs: DataFrame): DataFrame = {
    val sym0 = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct()
    var edges = sym0.localCheckpoint(true)
    // every round's exchanges (groupBy min, star joins, distinct,
    // exceptAll fixpoint test) sized from the materialized edge count
    // (guide §2): at 32 session partitions a small pair graph paid
    // ~40 near-empty tasks per round across ~6 rounds
    val nEdges = edges.count()
    graft.Mat.withLoopPartitions(pairs.sparkSession, nEdges) {
    var rounds = 0
    var done = false
    // O(log n) alternations suffice (SoCC'14 Thm 3); 60 is headroom,
    // the fixpoint test exits early on every real graph
    while (!done && rounds < 60) {
      // large-star round
      val mL = edges.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = edges.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).filter(col("u") =!= col("v"))
      // small-star on the large-star output (symmetrized). LAZY
      // checkpoint: lsSym is referenced three times in `next`'s plan
      // (min-aggregate + two star joins) — the lazy form shares one
      // evaluation and truncates lineage WITHOUT scheduling its own
      // job, so a round costs 2 actions (next + fixpoint test), not 3
      val lsSym = ls.unionAll(ls.select(col("v").as("u"), col("u").as("v"))).distinct()
        .localCheckpoint(false)
      val mS = lsSym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val ss = lsSym.join(mS, "u").filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v")).filter(col("u") =!= col("v"))
        .unionAll(lsSym.join(mS, "u").select(col("u"), col("m")).filter(col("u") =!= col("m"))
          .select(col("u"), col("m").as("v")))
        .distinct()
      // LAZY checkpoint + the fixpoint test as the materializing
      // action: ONE job per round both lands next's rows and tests the
      // symmetric difference (the eager-checkpoint + isEmpty pair was
      // two driver round-trips per round; the symmetric multiset
      // difference is empty iff the edge sets are equal)
      val next = ss.unionAll(ss.select(col("v").as("u"), col("u").as("v"))).distinct()
        .localCheckpoint(false)
      done = next.exceptAll(edges).unionAll(edges.exceptAll(next)).isEmpty
      edges = next
      rounds += 1
    }
    // stars rooted at component minima: canonical = min neighbor ∪ self
    // (eager checkpoint: the final aggregate runs under the loop conf)
    edges.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("canonical_id"))
      .select(col("u").as("doc_id"), col("canonical_id"))
      .localCheckpoint(true)
      .orderBy("doc_id")
    }
  }

  def dedupClustersLargestar(s: SparkSession, dir: String): DataFrame =
    ccLargeStar(dedupMinhashLsh(s, dir))

  /** Canonical cluster id for every doc in a verified near-dup pair. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupMinhashLsh(s, dir))

  /** Shingle-set CTE shared by the jaccard-twin oracles: non-empty
    * tokens, 3-shingles joined by single spaces, and the same
    * whole-normalized-text fallback for <3-token docs as
    * ShingleHashArr — string sets with exactly the cardinalities of
    * the engine's hash sets. */
  private val shingleCte: String =
    """tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |        FROM documents),
      |t AS (SELECT doc_id,
      |  CASE WHEN len(w) >= 3 THEN
      |    list_distinct(list_transform(range(1, len(w)-1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |  ELSE [array_to_string(w, ' ')] END AS sh
      | FROM tok)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $shingleCte,
      |p AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      | FROM t a JOIN t b ON a.doc_id < b.doc_id
      | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
      |          UNION ALL SELECT doc_b, doc_a FROM p),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, comp) AS (
      | SELECT id, id FROM nodes
      | UNION
      | SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src)
      |SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS canonical_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- query surface

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashNearDups(Tables.load(s, dir, "documents"), "doc_id", "text")

  /** Exact all-pairs twin: what the LSH path must reproduce. */
  val dedupMinhashLshSql: String =
    s"""WITH $shingleCte
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------- LSH banding tradeoff

  /** MinHash-LSH BANDING TRADEOFF table — the tuning eval a dedup
    * deployment reads before fixing (bands × rows) (the S-curve of
    * Leskovec/Rajaraman/Ullman ch.3, MEASURED on the corpus instead
    * of assumed): three band shapes over one shared 32-lane signature
    * — (16×2) permissive through (4×8) strict — each generating its
    * candidate pairs, exact-verified against the TRUE Jaccard ≥ τ
    * pair set, with recall and precision as exact ppm rationals. The
    * signature basis is md5 (lane value = min over shingles of the
    * 63-bit md5 of shingle|lane), so the DuckDB twin rebuilds
    * signatures, buckets, candidates, truth, and every count
    * digit-for-digit — the sketch's accuracy is ON the gate, the
    * discipline of sketch_heavy_hitters. The truth side is the exact
    * τ-threshold pair set via the PREFIX-FILTERED inverted index (the
    * dedup_jaccard_prefix machinery — lossless, no df cap, pair work
    * bounded by Σ prefix-df² which tracks near-dup density rather than
    * token skew), so the whole eval runs at corpus scale, not on a
    * sample. */
  val LshLanes = 32
  val LshConfigs: Seq[(Int, Int)] = Seq((16, 2), (8, 4), (4, 8))

  def dedupLshTradeoff(s: SparkSession, dir: String): DataFrame =
    lshTradeoffOn(Tables.load(s, dir, "documents"))

  /** Sorted 64-bit shingle-hash arrays of (doc_id, sh: array<string>). */
  private[graft] def hashedShingles(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
      sort_array(transform(col("sh"),
        g => graft.functions.TextHashOps.md5Lower64(g))).as("hs"))
      .withColumn("ns", size(col("hs")))

  /** PREFIX-postings candidate pairs over (doc_id, sh: array<string>):
    * each doc indexes only its (n div 2)+1 rarest shingles under the
    * global (df asc, hash asc) order, so pair events are Σ prefix-df² —
    * a superset of every J ≥ 1/2 pair by the prefix lemma, bounded by
    * near-dup density rather than token skew. */
  private[graft] def prefixTruthCandidates(base: DataFrame): DataFrame =
    prefixTruthCandidatesHashed(hashedShingles(base))

  private[graft] def prefixTruthCandidatesHashed(hashed: DataFrame): DataFrame = {
    val posts = hashed.select(col("doc_id"), col("ns"), explode(col("hs")).as("hk"))
    val dfT = posts.groupBy("hk").agg(count(lit(1)).as("df"))
    val wPre = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("hk").asc)
    val prefix = posts.join(dfT, "hk")
      .withColumn("r", row_number().over(wPre))
      .filter(col("r") <= expr("(ns div 2) + 1"))
      .select("doc_id", "hk")
    prefix.alias("x").join(prefix.alias("y"),
        col("x.hk") === col("y.hk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db")).distinct()
  }

  /** Exact J ≥ 1/2 pair set over (doc_id, sh: array<string>) — the
    * prefix-filtered candidates verified by one merge pass per pair
    * with the integer cross-multiply accept (lossless at τ = 1/2). */
  private[graft] def prefixTruthPairs(base: DataFrame): DataFrame = {
    // ONE hashing pass (md5 + sort per doc) shared by the prefix index
    // and the verify join — computing hashedShingles twice doubled the
    // corpus hashing work of every truth-side evaluation
    val hashed = hashedShingles(base).localCheckpoint(false)
    prefixTruthCandidatesHashed(hashed)
      .join(hashed.select(col("doc_id").as("da"), col("hs").as("ha"), col("ns").as("na")), "da")
      .join(hashed.select(col("doc_id").as("db"), col("hs").as("hb"), col("ns").as("nb")), "db")
      .withColumn("inter", graft.functions.JaccardOps.sortedIntersect(col("ha"), col("hb")))
      .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      .select("da", "db")
  }

  private[graft] def lshTradeoffOn(docs: DataFrame): DataFrame = {
    import graft.functions.TextHashOps
    val w = expr("filter(split(text, ' '), x -> x != '')")
    val base = graft.Mat.fanout(docs).select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"))
        .as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // shared 32-lane signature off the md5 basis (63-bit, KMV mapping)
    val lanes = base.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), explode(expr(s"sequence(0, ${LshLanes - 1})")).as("lane"),
        col("g"))
      .select(col("doc_id"), col("lane"),
        shiftrightunsigned(TextHashOps.md5Lower64(
          concat(col("g"), lit("|"), col("lane").cast("string"))), 1).as("h"))
      .groupBy("doc_id", "lane").agg(min("h").as("h"))
      .localCheckpoint(false)
    // truth: exact Jaccard >= 1/2 by integer cross-multiply — via the
    // PREFIX-FILTERED inverted index (dedup_jaccard_prefix's machinery
    // at the same τ, lossless by the prefix lemma: a J ≥ 1/2 pair has
    // overlap ≥ max(|A|,|B|)/2, so under the global (df asc, hash asc)
    // total order it must collide inside each doc's (n div 2)+1
    // RAREST shingles). Only prefix postings self-join, so pair events
    // are Σ prefix-df² — bounded by true near-dup density, never by
    // token skew: a stop-shingle present in every doc never enters the
    // index. (This replaces the uncapped full-postings self-join whose
    // pair work was Σ df² — quadratic in the hottest shingle's df on
    // boilerplate-heavy corpora; the earlier crossJoin form measured
    // 227 s at sf0.1.) Verify is one O(|A|+|B|) merge pass per
    // candidate over the sorted hash arrays with the SAME integer
    // accept. Hash basis for keys and arrays — collision-freedom of
    // the 64-bit shingle hash is certified on the gate by
    // dedup_substring's raw-string twin.
    val truth = prefixTruthPairs(base).localCheckpoint(false)
    val nTrue = truth.count()
    // materialize the shared signature checkpoint, then evaluate the
    // three band shapes CONCURRENTLY (guide §2.6) — each is a pair of
    // small jobs over the same checkpointed lanes/truth, and serially
    // each pair's latency was idle tail for the other two
    lanes.count()
    val rows = new Array[(String, Long, Long, Long, Long, Long)](LshConfigs.size)
    graft.Mat.concurrently(LshConfigs.zipWithIndex.map { case ((bands, r), i) =>
      () => rows(i) = lshConfigRow(lanes, truth, nTrue, bands, r)
    }: _*)
    docs.sparkSession.createDataFrame(rows.toSeq)
      .toDF("config", "n_cand", "n_true", "n_hit", "recall_ppm", "precision_ppm")
      .orderBy("config")
    // every count above has run — the result is driver-side rows, so
    // the shingle cache releases instead of leaking for the session
    } finally base.unpersist(blocking = false)
  }

  private def lshConfigRow(lanes: DataFrame, truth: DataFrame, nTrue: Long,
      bands: Int, r: Int): (String, Long, Long, Long, Long, Long) = {
    {
      // band bucket key: the 63-bit md5 of the lane-ordered signature
      // slice (the engine's standing hash basis) — shuffling one long
      // per (doc, band) instead of an r-lane decimal string (~10×
      // narrower exchange at scale; the twin hashes the identical
      // string, so collisions — 2⁻⁶³, and certified harmless on the
      // gate the same way as every other md5Lower64 key — are shared)
      val bk = lanes.withColumn("band", expr(s"lane div $r"))
        .groupBy("doc_id", "band")
        .agg(shiftrightunsigned(TextHashOps.md5Lower64(
          concat_ws(",", expr("transform(sort_array(collect_list(struct(lane, h))), x -> cast(x.h as string))"))), 1)
          .as("key"))
      val cand = bk.alias("x").join(bk.alias("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db")).distinct()
        .localCheckpoint(false)
      val nCand = cand.count()
      val nHit = cand.join(truth, Seq("da", "db"), "left_semi").count()
      (s"${bands}x$r", nCand, nTrue, nHit,
        if (nTrue > 0) nHit * 1000000L / nTrue else 0L,
        if (nCand > 0) nHit * 1000000L / nCand else 0L)
    }
  }

  val dedupLshTradeoffSql: String = {
    val per = LshConfigs.map { case (bands, r) =>
      s"""bk_${bands}_$r AS (SELECT doc_id, lane // $r AS band,
         |        CAST(md5_number_lower(string_agg(h::VARCHAR, ',' ORDER BY lane)) >> 1
         |          AS BIGINT) AS key
         |      FROM lv GROUP BY 1, 2),
         |cd_${bands}_$r AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |      FROM bk_${bands}_$r x JOIN bk_${bands}_$r y
         |        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |ct_${bands}_$r AS (SELECT
         |        (SELECT count(*) FROM cd_${bands}_$r) AS n_cand,
         |        (SELECT count(*) FROM tru) AS n_true,
         |        (SELECT count(*) FROM cd_${bands}_$r c
         |          JOIN tru ON tru.da = c.da AND tru.db = c.db) AS n_hit)""".stripMargin
    }.mkString(",\n")
    val rows = LshConfigs.map { case (bands, r) =>
      s"""SELECT '${bands}x$r' AS config, CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_true AS BIGINT) AS n_true, CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN n_true > 0 THEN n_hit * 1000000 // n_true ELSE 0 END AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN n_cand > 0 THEN n_hit * 1000000 // n_cand ELSE 0 END AS BIGINT) AS precision_ppm
         |FROM ct_${bands}_$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |        FROM documents),
       |tt AS (SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(w) - 1),
       |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
       |       FROM tk WHERE len(w) >= 3),
       |lv AS (SELECT doc_id, lane,
       |         min(CAST(md5_number_lower(g || '|' || lane) >> 1 AS BIGINT)) AS h
       |       FROM (SELECT doc_id, unnest(sh) AS g FROM tt)
       |       CROSS JOIN range($LshLanes) r(lane) GROUP BY 1, 2),
       |tru AS (SELECT a.doc_id AS da, b.doc_id AS db
       |       FROM tt a JOIN tt b ON a.doc_id < b.doc_id
       |       WHERE 2 * len(list_intersect(a.sh, b.sh))
       |         >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
       |$per
       |$rows
       |ORDER BY config""".stripMargin
  }

  // ------------------------- scaled twins (large-SF certification)

  /** The graded doc-pair oracles above stay QUADRATIC on purpose: at
    * the driver's SF they are the maximally independent check (no
    * shared algorithmic lemma with the engine). Above sf0.1 the Θ(n²)
    * `list_intersect` all-pairs join is the measured wall (>1 h per
    * query at 5k docs — SF1_CERT.md), so the large-SF certification
    * grades against these SCALED twins instead: identical exact
    * semantics, with candidate generation prefix-filtered by the
    * AllPairs/PPJoin lemma — over the RAW STRING shingles under
    * DuckDB's own string total order (df asc, shingle asc), sharing
    * neither hash basis nor order with the engine's prefix index.
    * Scaled ≡ graded twin is itself certified in-DuckDB at the graded
    * SFs (tools/cert_scaled.py equivalence mode), so the two-stage
    * argument is: quadratic == prefix twin where both run, engine ==
    * prefix twin everywhere. */

  /** replace() that REFUSES to no-op: a drifted anchor would otherwise
    * silently leave the scaled twin identical to the quadratic one. */
  private[graft] def mustReplace(s: String, from: String, to: String): String = {
    require(s.contains(from),
      s"scaled-twin rewrite anchor missing: ${from.linesIterator.next()}")
    s.replace(from, to)
  }

  /** shingleCte with the multi-referenced shingle table pinned
    * MATERIALIZED (the prefix twin reads it three times). */
  private val shingleCteMat: String =
    mustReplace(shingleCte, "t AS (SELECT", "t AS MATERIALIZED (SELECT")

  /** Prefix-candidate CTE chain over t(doc_id, sh) at τ = 1/2:
    * postings + global df + per-doc rarity rank, index only the first
    * (n div 2)+1 shingles, self-join prefixes. Emits pr_cand(da, db). */
  private val prefixCandCtes: String =
    """pr_post AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM t),
      |pr_df AS (SELECT g, count(*) AS df FROM pr_post GROUP BY 1),
      |pr_pre AS MATERIALIZED (SELECT doc_id, g FROM (
      |    SELECT p.doc_id, p.g, p.n,
      |      row_number() OVER (PARTITION BY p.doc_id ORDER BY d.df ASC, p.g ASC) AS r
      |    FROM pr_post p JOIN pr_df d ON d.g = p.g)
      |  WHERE r <= n // 2 + 1),
      |pr_cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM pr_pre x JOIN pr_pre y ON x.g = y.g AND x.doc_id < y.doc_id)""".stripMargin

  val dedupMinhashLshScaledSql: String =
    s"""WITH $shingleCteMat,
       |$prefixCandCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
       |FROM pr_cand c JOIN t a ON a.doc_id = c.da JOIN t b ON b.doc_id = c.db
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
       |ORDER BY 1, 2""".stripMargin

  // p/edges pinned MATERIALIZED: edges feeds the RECURSIVE reach term,
  // and an inlining planner would otherwise re-evaluate the whole
  // candidate+verify chain on every recursion step (measured 153 s →
  // 37 s at sf0.1 from these two pins alone)
  val dedupClustersScaledSql: String =
    s"""WITH RECURSIVE $shingleCteMat,
       |$prefixCandCtes,
       |p AS MATERIALIZED (SELECT c.da AS doc_a, c.db AS doc_b
       | FROM pr_cand c JOIN t a ON a.doc_id = c.da JOIN t b ON b.doc_id = c.db
       | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5),
       |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p
       |          UNION ALL SELECT doc_b, doc_a FROM p),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, comp) AS (
       | SELECT id, id FROM nodes
       | UNION
       | SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src)
       |SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS canonical_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** dedupLshTradeoffSql with the truth side prefix-filtered (the
    * engine's own round-11 fix, expressed in the oracle too) and the
    * multi-referenced corpus/truth CTEs pinned MATERIALIZED. */
  val dedupLshTradeoffScaledSql: String = mustReplace(
    mustReplace(dedupLshTradeoffSql, "tt AS (SELECT", "tt AS MATERIALIZED (SELECT"),
      """tru AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM tt a JOIN tt b ON a.doc_id < b.doc_id
        |       WHERE 2 * len(list_intersect(a.sh, b.sh))
        |         >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),""".stripMargin,
      """tp AS MATERIALIZED (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM tt),
        |tdf AS (SELECT g, count(*) AS df FROM tp GROUP BY 1),
        |tpre AS MATERIALIZED (SELECT doc_id, g FROM (
        |    SELECT p.doc_id, p.g, p.n,
        |      row_number() OVER (PARTITION BY p.doc_id ORDER BY d.df ASC, p.g ASC) AS r
        |    FROM tp p JOIN tdf d ON d.g = p.g)
        |  WHERE r <= n // 2 + 1),
        |tcand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |  FROM tpre x JOIN tpre y ON x.g = y.g AND x.doc_id < y.doc_id),
        |tru AS MATERIALIZED (SELECT c.da, c.db
        |       FROM tcand c JOIN tt a ON a.doc_id = c.da JOIN tt b ON b.doc_id = c.db
        |       WHERE 2 * len(list_intersect(a.sh, b.sh))
        |         >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),""".stripMargin)

  /** Twin overrides used ONLY by the large-SF certification tooling
    * (Verify dumps them as oracle_sql_scaled.json; the driver's graded
    * gate keeps reading the quadratic oracle_sql.json). */
  val oraclesScaled: Map[String, String] = Map(
    "dedup_minhash_lsh" -> dedupMinhashLshScaledSql,
    "stream_dedup" -> dedupMinhashLshScaledSql,
    "dedup_clusters" -> dedupClustersScaledSql,
    "dedup_clusters_largestar" -> dedupClustersScaledSql,
    "dedup_lsh_tradeoff" -> dedupLshTradeoffScaledSql)

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashNearDups(Tables.load(s, dir, "documents"), "doc_id", "text")

  /** Benchmark decontamination: flag training documents sharing any
    * word n-gram with a held-out evaluation set, with the shared-gram
    * count as evidence — the standard pre-training hygiene step (the
    * GPT-3/PaLM-style n-gram decontamination run, here over the same
    * shingle hashes the dedup family uses). Scale shape: the EVAL side
    * is small and fixed (benchmarks), so its exploded shingle set is
    * BROADCAST and the (huge) train side streams through a broadcast
    * hash join + map-side-combinable count — the corpus text never
    * shuffles, exactly how a 100 TB decontamination pass runs. */
  val DecontamEvalMaxId = 20L
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    evalMaxId: Long = DecontamEvalMaxId): DataFrame = {
    val base = graft.Mat.fanout(docs)
      .select(col(idCol).as("doc_id"), shingleHashes3(col(textCol)).as("sh"))
    val evalSide = base.filter(col("doc_id") < evalMaxId)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("h"))
    val trainSide = base.filter(col("doc_id") >= evalMaxId)
      .select(col("doc_id").as("train_id"), explode(col("sh")).as("h"))
    // per-doc shingle hashes are distinct, so count(*) per pair ==
    // distinct shared grams
    trainSide.join(broadcast(evalSide), "h")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("train_id", "eval_id")
  }

  def dataDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.load(s, dir, "documents"), "doc_id", "text")

  /** String-shingle twin: same cardinality argument as the jaccard
    * oracles — |shared hash set| == |shared string-shingle set|. */
  val dataDecontaminateSql: String =
    s"""WITH $shingleCte,
       |e AS (SELECT doc_id AS eval_id, unnest(sh) AS g FROM t WHERE doc_id < $DecontamEvalMaxId),
       |tr AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM t WHERE doc_id >= $DecontamEvalMaxId)
       |SELECT tr.train_id, e.eval_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM tr JOIN e USING (g)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Brute-force SimHash twin: the per-token basis hash is
    * md5_number_lower (same byte convention as TextHash.md5Lower64),
    * bit votes ±1 per token occurrence over the UNFILTERED space-split
    * (identical to the engine's split(text, ' ')), then all-pairs
    * hamming ≤ 3 — the banded LSH path must find exactly these pairs
    * (4×16-bit bands, pigeonhole on 3 flipped bits). */
  val dedupSimhashSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |tb AS (SELECT doc_id, md5_number_lower(w) AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tb CROSS JOIN range(64) r(j) GROUP BY 1, 2),
       |shs AS (
       |  SELECT doc_id,
       |    bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS sh64
       |  FROM bits GROUP BY 1),
       |sh AS (
       |  SELECT d.doc_id, coalesce(s.sh64, 0::UBIGINT) AS sh64
       |  FROM documents d LEFT JOIN shs s ON d.doc_id = s.doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh64, b.sh64)) AS INT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh64, b.sh64)) <= $SimHashMaxHamming
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------ semdedup

  /** Semantic deduplication, the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): k-means cluster the embedding space, then look
    * for near-duplicates ONLY within a cluster — the clustering IS the
    * blocking, so the quadratic verify is bounded by cluster size and
    * no cross-cluster pair is ever scored (at 100 TB nlist grows with
    * the corpus — the paper uses ~100k clusters — and hot clusters
    * split by the same salting used for label blocks). Keep rule,
    * deterministic: a row is a duplicate iff an earlier row (lower
    * vec_id) of the SAME cluster has cosine ≥ τ; dup_of is the
    * smallest such witness. The corpus carries no exact copies, so the
    * graded query PLANTS copies of the first $SemPlantN rows (vec_id +
    * $SemPlantBase — the oracle replants identically); planted rows
    * land in their original's cluster and are dropped with dup_of =
    * the original. */
  val SemDedupTau = 0.5
  val SemDedupNlist = 16
  val SemPlantN = 20
  val SemPlantBase = 10000000L

  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") < SemPlantN)
        .select((col("vec_id") + SemPlantBase).as("vec_id"), col("embedding")))
    semDedupOn(planted, IvfIndex.centroidsFor(s, dir, SemDedupNlist), SemDedupTau)
  }

  /** Salt factor for the within-cluster verify join: side A keyed by
    * (centroid, vid mod salt), side B replicated salt× — a hot k-means
    * cell's quadratic verify spreads across `salt` reducer tasks
    * instead of one straggler (the dedupEmbeddingSalted / writeSalted
    * remedy). The pair set is unchanged — only reducer placement moves
    * — so salted results are identical (Round9Spec proves it, and pins
    * the per-task row bound on a planted hot cluster). At 100 TB pick
    * salt ~ ceil(maxClusterSize / targetRowsPerTask). */
  val SemDedupSalt = 4

  def semDedupOn(corpus: DataFrame, centroids: Array[Array[Double]],
      tau: Double, salt: Int = SemDedupSalt): DataFrame = {
    import graft.functions.VectorOps
    // the assignment feeds BOTH join sides and the final select —
    // persist it so the corpus scan + nlist-way distance evaluation
    // runs once, not three times (and the salted b side doesn't
    // multiply the recompute); released below once the result snaps
    val assigned = IvfIndex.assign(corpus, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("vec_id").as("vid_a"), col("centroid"),
      col("embedding").as("emb_a"))
      .withColumn("salt", (col("vid_a") % salt).cast("int"))
    val b = assigned.select(col("vec_id").as("vid_b"), col("centroid"),
      col("embedding").as("emb_b"))
      .withColumn("salt", explode(array((0 until salt).map(lit): _*)))
    val dups = a.join(b, Seq("centroid", "salt"))
      .filter(col("vid_b") < col("vid_a"))
      .withColumn("score", VectorOps.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("score") >= tau)
      .groupBy(col("vid_a").as("vec_id")).agg(min(col("vid_b")).as("dup_of"))
    val out = assigned.select(col("vec_id"), col("centroid"))
      .join(dups, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
      .select(col("vec_id"), col("centroid"), col("keep"), col("dup_of"))
      .orderBy("vec_id")
      .localCheckpoint(true)
    assigned.unpersist(blocking = false)
    out
  }

  private[graft] def semDedupSql(centroids: Array[Array[Double]]): String = {
    import graft.OracleSql
    s"""WITH base AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $SemPlantBase, embedding FROM embeddings
       |  WHERE vec_id < $SemPlantN),
       |d AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${OracleSql.distList("embedding", centroids)} AS dl
       |  FROM base),
       |a AS (SELECT vec_id, embedding,
       |      CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS centroid FROM d),
       |nrm AS (SELECT vec_id, ${OracleSql.norm("embedding")} AS nm FROM base),
       |p AS (SELECT x.vec_id AS vid, MIN(y.vec_id) AS dup_of
       |      FROM a x JOIN a y ON x.centroid = y.centroid AND y.vec_id < x.vec_id
       |      JOIN nrm nx ON nx.vec_id = x.vec_id
       |      JOIN nrm ny ON ny.vec_id = y.vec_id
       |      WHERE ${OracleSql.dot("x.embedding", "y.embedding")} / (nx.nm * ny.nm)
       |        >= $SemDedupTau
       |      GROUP BY x.vec_id)
       |SELECT a.vec_id, a.centroid, (p.dup_of IS NULL) AS keep, p.dup_of
       |FROM a LEFT JOIN p ON p.vid = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  // ------------------------------------------------- substring dedup

  /** Exact-duplicated-substring window length, in tokens. The
    * technique (Lee et al., ACL 2022, "Deduplicating Training Data
    * Makes Language Models Better") removes any span of >= L tokens
    * that occurs more than once in the corpus; their suffix-array
    * build is single-node, so at scale the standard distributed
    * formulation is position-shingling: hash every L-token window,
    * group by hash, and call a window duplicated iff it occurs at
    * >= 2 (doc, pos) positions corpus-wide (within-doc repeats count,
    * as in the paper). 8 tokens keeps the graded corpus discriminative
    * (47/500 sf0.01 docs carry a duplicated span). */
  val SubstrWindow = 8

  /** Per-doc duplicated-span coverage: the fraction of each document's
    * tokens lying inside some L-token window that occurs >= 2 times in
    * the corpus.
    *
    * Scale shape: windows shuffle as (hash, doc, pos) longs only —
    * document text never moves after the projection that hashes it.
    * The duplicated-hash set comes from one map-side-combined groupBy;
    * the join back is keyed on the hash (broadcastable when the dup
    * set is small, plain shuffle join otherwise). Coverage is an
    * interval union done with one lead() window per doc — overlapping
    * windows contribute min(L, next_pos - pos), so no position is
    * double-counted and nothing ever explodes L-fold.
    *
    * The 64-bit hash can in principle collide (two distinct windows
    * sharing md5Lower64 would both be marked duplicated); the oracle
    * deliberately groups by the RAW window string, so a green grade
    * also certifies no collision affected this corpus. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      winLen: Int = SubstrWindow): DataFrame = {
    val L = winLen
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        expr(s"filter(split(trim($textCol), '\\\\s+'), x -> x != '')").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
    val wins = base.filter(col("n_tokens") >= L)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n_tokens") - L)).as("p"))
      .select(col("doc_id"), col("p"),
        TextHashOps.md5Lower64(
          array_join(slice(col("w"), (col("p") + 1).cast("int"), lit(L)), " ")).as("h"))
    val dupH = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val lead1 = Window.partitionBy("doc_id").orderBy("p")
    val cov = wins.join(dupH, "h")
      .withColumn("nxt", lead(col("p"), 1).over(lead1))
      .withColumn("contrib",
        when(col("nxt").isNull, lit(L.toLong))
          .otherwise(least(lit(L.toLong), col("nxt") - col("p"))))
      .groupBy("doc_id").agg(sum("contrib").as("dup_tokens"))
    base.select("doc_id", "n_tokens")
      .join(cov, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_tokens") > 0,
          col("dup_tokens").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    duplicatedSpans(Tables.load(s, dir, "documents"), "doc_id", "text")

  /** Substring-dedup REWRITE — the actionable half of Lee et al.:
    * every duplicated L-token window keeps its FIRST corpus occurrence
    * (smallest (doc_id, pos)) and all later occurrences are removed
    * from the text. Removal windows are merged into disjoint intervals
    * per doc with one gaps-and-islands pass (running max of window
    * end; a window starting at/after the max opens a new island), so
    * the per-token membership test is over merged intervals, not raw
    * windows. The window/group/interval stages shuffle (doc_id, pos,
    * hash) longs only; document text is touched exactly twice — hashed
    * in the scan projection, and rewritten in place at the end when the
    * per-doc interval arrays join back. That join-back is broadcast
    * (only docs with removals carry intervals, each a handful of
    * longs), so no HASH exchange ever carries text; the one exchange
    * that does is the final orderBy's RANGE partitioning of the graded
    * output — text moves exactly once, already pruned (drop the sort at
    * scale and it moves zero times). The rewrite itself is a codegen
    * higher-order filter — no UDF, no per-token explode.
    *
    * Overlapping self-similar spans (periodic text) are handled by the
    * same mechanical rule — a later window overlapping a kept first
    * occurrence still removes its own positions — deterministic and
    * replayed identically by the oracle. */
  def pruneDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                           winLen: Int = SubstrWindow): DataFrame = {
    val L = winLen
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        expr(s"filter(split(trim($textCol), '\\\\s+'), x -> x != '')").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
    val wins = base.filter(col("n_tokens") >= L)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n_tokens") - L)).as("p"))
      .select(col("doc_id"), col("p"),
        TextHashOps.md5Lower64(
          array_join(slice(col("w"), (col("p") + 1).cast("int"), lit(L)), " ")).as("h"))
    val byH = Window.partitionBy("h").orderBy(col("doc_id"), col("p"))
    val removals = wins
      .withColumn("rn", row_number().over(byH))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("cnt") >= 2 && col("rn") >= 2)
      .select("doc_id", "p")
    // gaps-and-islands: merge overlapping removal windows per doc
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val islands = removals
      .withColumn("mx", max(col("p") + L)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni", when(col("mx").isNull || col("p") >= col("mx"), lit(1L))
        .otherwise(lit(0L)))
      .withColumn("island", sum("ni")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("p").as("st"), max(col("p") + L).as("en"))
    val ivs = islands.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("irs"))
    base.join(broadcast(ivs), Seq("doc_id"), "left")
      .withColumn("kept", when(col("irs").isNull, col("w"))
        .otherwise(expr(
          "filter(w, (x, i) -> NOT exists(irs, r -> i >= r.st AND i < r.en))")))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("removed_tokens"),
        array_join(col("kept"), " ").as("text_pruned"))
      .orderBy("doc_id")
  }

  def dedupSubstringPrune(s: SparkSession, dir: String): DataFrame =
    pruneDuplicatedSpans(Tables.load(s, dir, "documents"), "doc_id", "text")

  /** Raw-string twin of the rewrite (same first-occurrence rule, same
    * island merge, same indexed-lambda filter; DuckDB lambda indices
    * are 1-based vs Spark's 0-based, hence the i-1). */
  val dedupSubstringPruneSql: String = {
    val L = SubstrWindow
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |n AS (SELECT doc_id, w, len(w) AS n_tokens FROM t),
       |win AS (
       |  SELECT doc_id, u.p, array_to_string(w[u.p+1:u.p+$L], ' ') AS g
       |  FROM n, unnest(CASE WHEN n_tokens >= $L
       |                      THEN range(0, n_tokens - $L + 1) ELSE [] END) u(p)),
       |mk AS (
       |  SELECT doc_id, p,
       |    row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn,
       |    count(*) OVER (PARTITION BY g) AS cnt
       |  FROM win),
       |rem AS (SELECT doc_id, p FROM mk WHERE cnt >= 2 AND rn >= 2),
       |gaps AS (
       |  SELECT doc_id, p,
       |    max(p + $L) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
       |  FROM rem),
       |isl AS (
       |  SELECT doc_id, p,
       |    sum(CASE WHEN mx IS NULL OR p >= mx THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY p
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM gaps),
       |iv AS (SELECT doc_id, island, min(p) AS st, max(p + $L) AS en
       |       FROM isl GROUP BY 1, 2),
       |irs AS (SELECT doc_id, list(struct_pack(st := st, en := en)) AS irs
       |        FROM iv GROUP BY 1),
       |kept AS (
       |  SELECT n.doc_id, n.n_tokens,
       |    CASE WHEN irs.irs IS NULL THEN n.w
       |         ELSE list_filter(n.w, (x, i) ->
       |           len(list_filter(irs.irs,
       |             r -> i - 1 >= r.st AND i - 1 < r.en)) = 0)
       |    END AS kw
       |  FROM n LEFT JOIN irs ON n.doc_id = irs.doc_id)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_tokens - len(kw) AS BIGINT) AS removed_tokens,
       |  coalesce(array_to_string(kw, ' '), '') AS text_pruned
       |FROM kept ORDER BY doc_id""".stripMargin
  }

  /** Raw-string twin (stronger than the engine: no hash), same window
    * enumeration, same interval-union coverage. */
  val dedupSubstringSql: String = {
    val L = SubstrWindow
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |n AS (SELECT doc_id, w, len(w) AS n_tokens FROM t),
       |win AS (
       |  SELECT doc_id, u.p, array_to_string(w[u.p+1:u.p+$L], ' ') AS s
       |  FROM n, unnest(CASE WHEN n_tokens >= $L
       |                      THEN range(0, n_tokens - $L + 1) ELSE [] END) u(p)),
       |dh AS (SELECT s FROM win GROUP BY s HAVING count(*) >= 2),
       |dw AS (SELECT doc_id, p,
       |         lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
       |       FROM win JOIN dh USING (s)),
       |cov AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN nxt IS NULL THEN $L ELSE least($L, nxt - p) END) AS dup_tokens
       |  FROM dw GROUP BY doc_id)
       |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CASE WHEN n.n_tokens > 0
       |       THEN CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / n.n_tokens
       |       ELSE 0.0 END AS dup_frac
       |FROM n LEFT JOIN cov USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** BLOOM-prefiltered decontamination — the 100 TB regime of
    * data_decontaminate where even the EVAL side's exploded shingle
    * set is too big to broadcast raw: broadcast an m-bit Bloom filter
    * over the eval shingles instead (m bits bounds the broadcast
    * regardless of eval-corpus size), stream the train side through a
    * map-only membership test (a shingle passes iff ALL k of its bit
    * positions are set — no false negatives, by construction), and
    * only the PASSING shingles — true contamination plus the bounded
    * false-positive residue — reach the exact verify join. The graded
    * table is the family's accuracy discipline: per flagged train doc,
    * total shingles, bloom-passing shingles, and exactly-shared
    * shingles side by side (n_pass ≥ n_shared always; the gap IS the
    * measured false-positive cost). Bit arithmetic is cross-engine
    * integer-exact: shingle hash = md5Lower64 of the normalized 3-gram
    * STRING (the KMV hash discipline — md5, not FNV, precisely so the
    * DuckDB twin rebuilds the same 63-bit value), position j = bits
    * [16j, 16j+15] of that hash mod m, so the oracle reproduces the
    * filter bit-for-bit, false positives included. */
  val BloomM = 65536L
  val BloomK = 4

  /** Normalized string 3-gram shingles (the shingleCte shape as a
    * Column over the named text column): non-empty tokens,
    * single-space joins, whole-text fallback under 3 tokens, distinct.
    * The repeated token subexpression collapses in codegen (common
    * subexpression elimination). */
  private[graft] def shingleStrings(textCol: String): Column = expr(
    s"""CASE WHEN size(filter(split($textCol, ' '), x -> x != '')) >= 3
       |THEN array_distinct(transform(
       |  sequence(0, size(filter(split($textCol, ' '), x -> x != '')) - 3),
       |  i -> concat_ws(' ',
       |    element_at(filter(split($textCol, ' '), x -> x != ''), i + 1),
       |    element_at(filter(split($textCol, ' '), x -> x != ''), i + 2),
       |    element_at(filter(split($textCol, ' '), x -> x != ''), i + 3))))
       |ELSE array(array_join(filter(split($textCol, ' '), x -> x != ''), ' '))
       |END""".stripMargin)

  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         evalMaxId: Long = DecontamEvalMaxId,
                         persistBase: Boolean = true): DataFrame = {
    // hashed postings persisted: (doc_id, b) longs only — the corpus
    // text is tokenized/shingled exactly ONCE (the bm25/CMS lesson),
    // and every downstream branch (filter bits, membership, counts,
    // verify) reuses the integer table. persistBase=false keeps the
    // chain fully lazy for composed pipelines (pipeline_e2e's
    // no-driver-barrier contract) — the shingle pass then recomputes
    // per branch, which a 100 TB run would trade back to a persist.
    val base0 = graft.Mat.fanout(docs)
      .select(col(idCol).as("doc_id"), explode(shingleStrings(textCol)).as("g"))
      .select(col("doc_id"), shiftrightunsigned(
        graft.functions.TextHashOps.md5Lower64(col("g")), 1).as("b"))
    val base = if (persistBase) base0.persist() else base0
    val evalB = base.filter(col("doc_id") < evalMaxId).select("b").distinct()
    // the filter itself: distinct set bit positions, ≤ m rows — THIS is
    // what broadcasts at scale, not the eval shingles
    val bits = evalB
      .select(explode(expr(s"sequence(0, ${BloomK - 1})")).as("j"), col("b"))
      .select(expr(s"shiftright(b, 16 * j) % $BloomM").as("pos")).distinct()
    val train = base.filter(col("doc_id") >= evalMaxId)
    val pass = train
      .select(col("doc_id"), col("b"), explode(expr(s"sequence(0, ${BloomK - 1})")).as("j"))
      .withColumn("pos", expr(s"shiftright(b, 16 * j) % $BloomM"))
      .join(broadcast(bits), "pos")
      .groupBy("doc_id", "b").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomK)
    val nGrams = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val nPass = pass.groupBy("doc_id").agg(count(lit(1)).as("n_pass"))
    // exact verify over the (bounded) candidates only — collision-free
    // modulo the engine's standing 2⁻⁶³ md5 argument
    val nShared = pass.join(evalB, "b")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val out = nPass.join(nGrams, "doc_id")
      .join(nShared, Seq("doc_id"), "left")
      .select(col("doc_id").as("train_id"), col("n_grams"), col("n_pass"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy("train_id")
    if (persistBase) {
      // materialize the (flag-table-sized) result, then RELEASE the
      // corpus-sized hashed-postings cache — a persist with no matching
      // unpersist leaks it for the session lifetime
      val snapped = out.localCheckpoint(true)
      base.unpersist(blocking = false)
      snapped
    } else out
  }

  def dataDecontaminateBloom(s: SparkSession, dir: String): DataFrame =
    decontaminateBloom(Tables.load(s, dir, "documents"), "doc_id", "text")

  /** The filter itself as a BITMAP (m/64 longs — 8 KiB at m=64Ki):
    * what actually ships to every executor in the streaming/map-only
    * form. Bounded by m no matter how many eval grams set bits. */
  private[graft] def bloomBits(docs: DataFrame, idCol: String, textCol: String,
                               evalMaxId: Long = DecontamEvalMaxId): Array[Long] = {
    import docs.sparkSession.implicits._
    val positions = docs.filter(col(idCol) < evalMaxId)
      .select(explode(shingleStrings(textCol)).as("g"))
      .select(shiftrightunsigned(
        graft.functions.TextHashOps.md5Lower64(col("g")), 1).as("b"))
      .select(explode(expr(s"sequence(0, ${BloomK - 1})")).as("j"), col("b"))
      .select(expr(s"shiftright(b, 16 * j) % $BloomM").as("pos"))
      .distinct().as[Long].collect()
    val bits = new Array[Long]((BloomM / 64).toInt)
    positions.foreach(p => bits((p >> 6).toInt) |= (1L << (p & 63).toInt))
    bits
  }

  /** Count of shingle hashes whose k positions are ALL set — the
    * membership test as one codegen kernel over the bitmap (the
    * production form: no join, no shuffle, pure map). Same positions
    * arithmetic as the graded join form, so n_pass is identical. */
  def bloomPassCount(bits: Array[Long],
                     arr: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    var cnt = 0; var i = 0
    while (i < arr.numElements()) {
      val b = arr.getLong(i)
      var ok = true; var j = 0
      while (ok && j < BloomK) {
        val pos = ((b >>> (16 * j)) % BloomM).toInt
        ok = (bits(pos >> 6) & (1L << (pos & 63))) != 0
        j += 1
      }
      if (ok) cnt += 1
      i += 1
    }
    cnt
  }

  case class BloomCountExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
                            bits: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.IntegerType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      bloomPassCount(bits, v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bits", bits, "long[]")
      val ddp = Dedup.getClass.getName + ".MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ddp.bloomPassCount($ref, $a);")
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression)
        : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
  }

  /** n_grams/n_pass-only SQL twin — grades the STREAMING map-only
    * flagger (the exact verify is a downstream batch join, so the
    * live flagger carries only the filter verdicts). */
  val decontaminateStreamSql: String =
    s"""WITH $shingleCte,
       |tb AS (SELECT doc_id,
       |         CAST((md5_number_lower(g) >> 1) AS BIGINT) AS b
       |       FROM (SELECT doc_id, unnest(sh) AS g FROM t)),
       |e AS (SELECT DISTINCT b FROM tb WHERE doc_id < $DecontamEvalMaxId),
       |bits AS (SELECT DISTINCT (b >> (16 * j)) % $BloomM AS pos
       |         FROM e CROSS JOIN range($BloomK) r(j)),
       |tr AS (SELECT doc_id, b FROM tb WHERE doc_id >= $DecontamEvalMaxId),
       |pass AS (SELECT doc_id, b FROM (
       |    SELECT tr.doc_id, tr.b, count(*) AS hits
       |    FROM tr CROSS JOIN range($BloomK) r(j)
       |    JOIN bits ON bits.pos = (tr.b >> (16 * r.j)) % $BloomM
       |    GROUP BY 1, 2) WHERE hits = $BloomK),
       |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1),
       |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pass FROM pass GROUP BY 1)
       |SELECT np.doc_id AS train_id, ng.n_grams, np.n_pass
       |FROM np JOIN ng USING (doc_id)
       |ORDER BY train_id""".stripMargin

  val dataDecontaminateBloomSql: String =
    s"""WITH $shingleCte,
       |tb AS (SELECT doc_id,
       |         CAST((md5_number_lower(g) >> 1) AS BIGINT) AS b
       |       FROM (SELECT doc_id, unnest(sh) AS g FROM t)),
       |e AS (SELECT DISTINCT b FROM tb WHERE doc_id < $DecontamEvalMaxId),
       |bits AS (SELECT DISTINCT (b >> (16 * j)) % $BloomM AS pos
       |         FROM e CROSS JOIN range($BloomK) r(j)),
       |tr AS (SELECT doc_id, b FROM tb WHERE doc_id >= $DecontamEvalMaxId),
       |pass AS (SELECT doc_id, b FROM (
       |    SELECT tr.doc_id, tr.b, count(*) AS hits
       |    FROM tr CROSS JOIN range($BloomK) r(j)
       |    JOIN bits ON bits.pos = (tr.b >> (16 * r.j)) % $BloomM
       |    GROUP BY 1, 2) WHERE hits = $BloomK),
       |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1),
       |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pass FROM pass GROUP BY 1),
       |ns AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |       FROM pass p JOIN e USING (b) GROUP BY 1)
       |SELECT np.doc_id AS train_id, ng.n_grams, np.n_pass,
       |       COALESCE(ns.n_shared, 0) AS n_shared
       |FROM np JOIN ng USING (doc_id) LEFT JOIN ns USING (doc_id)
       |ORDER BY train_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_lsh_tradeoff" -> (dedupLshTradeoff _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_largestar" -> (dedupClustersLargestar _),
    "dedup_simhash" -> (dedupSimhash _),
    "data_decontaminate" -> (dataDecontaminate _),
    "data_decontaminate_bloom" -> (dataDecontaminateBloom _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_substring_prune" -> (dedupSubstringPrune _),
    "semdedup" -> (semDedup _))

  def oracles: Map[String, graft.OracleSql.Twin] = {
    val m = Map.newBuilder[String, String]
    m += "dedup_minhash_lsh" -> dedupMinhashLshSql
    m += "dedup_lsh_tradeoff" -> dedupLshTradeoffSql
    m += "dedup_clusters" -> dedupClustersSql
    m += "dedup_clusters_largestar" -> dedupClustersSql
    m += "dedup_simhash" -> dedupSimhashSql
    m += "data_decontaminate" -> dataDecontaminateSql
    m += "data_decontaminate_bloom" -> dataDecontaminateBloomSql
    m += "dedup_substring" -> dedupSubstringSql
    m += "dedup_substring_prune" -> dedupSubstringPruneSql
    graft.OracleSql.fixed(m.result()) ++ Map[String, graft.OracleSql.Twin](
      ("semdedup", (s, d) => semDedupSql(IvfIndex.centroidsFor(s, d, SemDedupNlist))))
  }
}
