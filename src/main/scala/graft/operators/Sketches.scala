package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Mergeable sketch profiling — the answers a 100 TB curation pipeline
  * wants BEFORE it runs (how many distinct users/domains/shards, per
  * slice) at a cost that never shuffles the distinct values themselves.
  *
  * `sketch_distinct_kmv`: KMV (k-minimum-values) distinct-count
  * sketches (Bar-Yossef et al., RANDOM'02; Beyer et al., SIGMOD'07)
  * per group: hash every member into [0, 2⁶³) off the md5_number_lower
  * basis (the engine's cross-engine-reproducible hash discipline), keep
  * the k smallest DISTINCT hashes per group via a bounded
  * TypedImperativeAggregate (map-side partials of ≤k longs, associative
  * merge — the same shape VectorAvgAgg gives Lloyd updates), estimate
  * distinct = (k−1)·2⁶³ div h_k. Everything — the kept hashes, the
  * k-th value, the estimate's integral division — is integer-exact, so
  * the DuckDB twin reproduces the sketch AND its estimate
  * digit-for-digit: a graded accuracy table (exact vs estimate side by
  * side), not a tolerance check. Unlike count(DISTINCT …), the
  * sketch's shuffle is k longs per group no matter the corpus size,
  * and shard sketches merge losslessly (bottom-k of a union == merge
  * of bottom-ks — SketchSpec pins it), which is what makes it the
  * at-scale profiling primitive: profile each ingest shard, fold.
  */
object Sketches {
  /** Sketch size: rel. error ~ 1/√(k−1) ≈ 12.7%. */
  val K = 64

  def sketchDistinctKmv(s: SparkSession, dir: String): DataFrame =
    kmvTable(Tables.load(s, dir, "events")).orderBy("event_type")

  private[graft] def kmvTable(ev: DataFrame): DataFrame = {
    val h = ev.select(col("event_type"), col("user_id"),
      shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
        concat(lit("kmv:"), col("user_id").cast("string"))), 1).as("h"))
    h.groupBy("event_type")
      .agg(graft.functions.KmvOps.kmvBottomK(col("h"), K).as("bk"),
        countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        size(col("bk")).cast("long").as("n_sketch"),
        when(size(col("bk")) === K, element_at(col("bk"), K)).as("kth_hash"),
        when(size(col("bk")) < K, size(col("bk")).cast("long"))
          .otherwise(expr(
            s"cast(${K - 1} as decimal(38,0)) * 9223372036854775808 div element_at(bk, $K)"))
          .as("estimate"))
  }

  val sketchDistinctKmvSql: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |             CAST((md5_number_lower('kmv:' || user_id) >> 1) AS BIGINT) AS h
       |           FROM events),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
       |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       |       FROM events GROUP BY 1),
       |sk AS (SELECT event_type,
       |         CAST(count(*) FILTER (WHERE rn <= $K) AS BIGINT) AS n_sketch,
       |         max(CASE WHEN rn = $K THEN h END) AS kth_hash
       |       FROM r GROUP BY 1)
       |SELECT ex.event_type, n_exact, n_sketch, kth_hash,
       |  CASE WHEN n_sketch < $K THEN n_sketch
       |       ELSE CAST((${K - 1}::HUGEINT * 9223372036854775808) // kth_hash AS BIGINT)
       |  END AS estimate
       |FROM ex JOIN sk USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** The sketch columns alone (no n_exact) — the STREAMING twin's
    * oracle: a live stream can keep the bounded sketch state forever,
    * but an exact distinct count would grow state without bound, so
    * the streamed operator deliberately carries only the sketch. */
  val sketchKmvStreamSql: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |             CAST((md5_number_lower('kmv:' || user_id) >> 1) AS BIGINT) AS h
       |           FROM events),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
       |sk AS (SELECT event_type,
       |         CAST(count(*) FILTER (WHERE rn <= $K) AS BIGINT) AS n_sketch,
       |         max(CASE WHEN rn = $K THEN h END) AS kth_hash
       |       FROM r GROUP BY 1)
       |SELECT event_type, n_sketch, kth_hash,
       |  CASE WHEN n_sketch < $K THEN n_sketch
       |       ELSE CAST((${K - 1}::HUGEINT * 9223372036854775808) // kth_hash AS BIGINT)
       |  END AS estimate
       |FROM sk ORDER BY event_type""".stripMargin

  /** Sketch-table projection off a bottom-k column (shared by the batch
    * and streaming operators so the estimate arithmetic is identical by
    * construction). */
  private[graft] def sketchCols(df: DataFrame): DataFrame =
    df.select(col("event_type"),
      size(col("bk")).cast("long").as("n_sketch"),
      when(size(col("bk")) === K, element_at(col("bk"), K)).as("kth_hash"),
      when(size(col("bk")) < K, size(col("bk")).cast("long"))
        .otherwise(expr(
          s"cast(${K - 1} as decimal(38,0)) * 9223372036854775808 div element_at(bk, $K)"))
        .as("estimate"))

  /** Sampled-quantile profile per group — the second mergeable
    * profiling primitive: exact quantiles of a deterministic
    * hash-Bernoulli sample (p = 1/16 via an md5 threshold on the row
    * id — the data_sample_stratified discipline: content-independent,
    * engine-independent, and a union of shard samples IS the sample of
    * the union, so shard profiles fold losslessly like the KMV
    * sketch). The quantile arithmetic on both the full table and the
    * sample is the events_value_quantiles integer machinery (1-based
    * ceil(q·cnt) index over (cents, id)-sorted values), so every
    * output cell is integer-exact and the graded table is again an
    * ACCURACY table — full vs sampled p50/p95 side by side. At 100 TB
    * the full columns are the expensive sort you avoid; the sample
    * columns cost p·n rows and bound the answer. */
  val SampleNum = 1L << 28 // threshold over the 2^32 hash space: p = 1/16

  def sketchQuantilesSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(s, dir, "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("vc"), col("event_id"))
    def qtab(in: DataFrame, pfx: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col("vc").asc, col("event_id").asc)
      val ranked = in.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
      def idx(num: Int, den: Int) = expr(s"(cnt * $num + ${den - 1}) div $den")
      ranked.groupBy("event_type").agg(
        max("cnt").as(s"n_$pfx"),
        sum(when(col("rn") === idx(1, 2), col("vc"))).as(s"p50_${pfx}_cents"),
        sum(when(col("rn") === idx(19, 20), col("vc"))).as(s"p95_${pfx}_cents"))
    }
    val samp = e.filter(
      graft.functions.TextHashOps.md5Lower64(
        concat(lit("qsamp:"), col("event_id").cast("string")))
        .bitwiseAND(lit(4294967295L)) < lit(SampleNum))
    qtab(e, "full").join(qtab(samp, "sample"), Seq("event_type"), "left")
      .orderBy("event_type")
  }

  val sketchQuantilesSampleSql: String =
    s"""WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS vc, event_id
       |           FROM events),
       |sf AS (SELECT * FROM e
       |       WHERE (md5_number_lower('qsamp:' || event_id) & 4294967295) < $SampleNum),
       |rf AS (SELECT event_type, vc,
       |         row_number() OVER (PARTITION BY event_type ORDER BY vc ASC, event_id ASC) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS cnt FROM e),
       |rs AS (SELECT event_type, vc,
       |         row_number() OVER (PARTITION BY event_type ORDER BY vc ASC, event_id ASC) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS cnt FROM sf),
       |f AS (SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_full,
       |        CAST(sum(CASE WHEN rn = (cnt * 1 + 1) // 2 THEN vc END) AS BIGINT) AS p50_full_cents,
       |        CAST(sum(CASE WHEN rn = (cnt * 19 + 19) // 20 THEN vc END) AS BIGINT) AS p95_full_cents
       |      FROM rf GROUP BY 1),
       |sq AS (SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_sample,
       |        CAST(sum(CASE WHEN rn = (cnt * 1 + 1) // 2 THEN vc END) AS BIGINT) AS p50_sample_cents,
       |        CAST(sum(CASE WHEN rn = (cnt * 19 + 19) // 20 THEN vc END) AS BIGINT) AS p95_sample_cents
       |      FROM rs GROUP BY 1)
       |SELECT f.event_type, n_full, p50_full_cents, p95_full_cents,
       |       n_sample, p50_sample_cents, p95_sample_cents
       |FROM f LEFT JOIN sq ON sq.event_type = f.event_type
       |ORDER BY f.event_type""".stripMargin

  /** KMV SET OPERATIONS — audience-overlap profiling from sketches
    * alone (the classic theta-sketch use case: "how many users did
    * both A and B" across a 100 TB log without a distinct-join): for
    * every pair of groups, fold the two bottom-k sketches into the
    * union's bottom-k (bottom-k of a union == bottom-k of the merged
    * bottom-ks — the lossless-merge property SketchSpec pins), read
    * |A∪B| off the folded sketch's k-th hash, and estimate |A∩B| by
    * the shared-hash rule: hashes inside the folded bottom-k that
    * belong to BOTH input sketches are a uniform sample of the union
    * scaled by the intersection fraction, so inter ≈ shared·|A∪B|/k —
    * computed as an exact integral division (DECIMAL-widened product,
    * the engine's overflow discipline). When the folded sketch is not
    * full it simply IS the union and `shared` is the exact
    * intersection. Every cell integer-exact; the graded table carries
    * the exact intersection beside the estimate (accuracy on the
    * gate, the sketch family's discipline). */
  def sketchSetOps(s: SparkSession, dir: String): DataFrame =
    setOpsTable(Tables.load(s, dir, "events"))

  private[graft] def setOpsTable(ev: DataFrame): DataFrame = {
    val h = ev.select(col("event_type"), col("user_id"),
      shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
        concat(lit("kmv:"), col("user_id").cast("string"))), 1).as("h"))
    val sk = h.groupBy("event_type")
      .agg(graft.functions.KmvOps.kmvBottomK(col("h"), K).as("bk"))
    val pairs = sk.alias("a").join(sk.alias("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        col("a.bk").as("bka"), col("b.bk").as("bkb"))
    val users = ev.select("event_type", "user_id").distinct()
    val exact = users.alias("x").join(users.alias("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    pairs.join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("n_exact_inter", coalesce(col("n_exact_inter"), lit(0L)))
      .withColumn("merged", expr(s"slice(array_sort(array_distinct(concat(bka, bkb))), 1, $K)"))
      .withColumn("shared",
        expr("size(array_intersect(merged, array_intersect(bka, bkb)))").cast("long"))
      .withColumn("union_est",
        when(size(col("merged")) < K, size(col("merged")).cast("long"))
          .otherwise(expr(
            s"cast(${K - 1} as decimal(38,0)) * 9223372036854775808 div element_at(merged, $K)")))
      .withColumn("inter_est",
        when(size(col("merged")) < K, col("shared"))
          .otherwise(expr(s"cast(shared as decimal(38,0)) * union_est div $K")))
      .select("type_a", "type_b", "n_exact_inter", "shared", "union_est", "inter_est")
      .orderBy("type_a", "type_b")
  }

  val sketchSetOpsSql: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |             CAST((md5_number_lower('kmv:' || user_id) >> 1) AS BIGINT) AS h
       |           FROM events),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
       |bk AS (SELECT event_type, list(h ORDER BY h) FILTER (WHERE rn <= $K) AS bk
       |       FROM r GROUP BY 1),
       |du AS (SELECT DISTINCT event_type, user_id FROM events),
       |ex AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
       |         CAST(count(*) AS BIGINT) AS n_exact_inter
       |       FROM du x JOIN du y ON x.user_id = y.user_id
       |         AND x.event_type < y.event_type
       |       GROUP BY 1, 2),
       |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |        a.bk AS bka, b.bk AS bkb,
       |        list_sort(list_distinct(list_concat(a.bk, b.bk)))[1:$K] AS merged
       |      FROM bk a JOIN bk b ON a.event_type < b.event_type),
       |m AS (SELECT type_a, type_b, merged,
       |        CAST(len(list_intersect(merged, list_intersect(bka, bkb))) AS BIGINT) AS shared,
       |        CASE WHEN len(merged) < $K THEN CAST(len(merged) AS BIGINT)
       |             ELSE CAST((${K - 1}::HUGEINT * 9223372036854775808) // merged[$K] AS BIGINT)
       |        END AS union_est
       |      FROM p)
       |SELECT m.type_a, m.type_b, COALESCE(ex.n_exact_inter, 0) AS n_exact_inter,
       |       shared, union_est,
       |       CASE WHEN len(merged) < $K THEN shared
       |            ELSE CAST((shared::HUGEINT * union_est) // $K AS BIGINT) END AS inter_est
       |FROM m LEFT JOIN ex ON ex.type_a = m.type_a AND ex.type_b = m.type_b
       |ORDER BY m.type_a, m.type_b""".stripMargin

  /** COUNT-MIN heavy-hitter profile — the sketch family's third
    * primitive (Cormode & Muthukrishnan, J.Alg '05): the frequency
    * question KMV can't answer ("which tokens dominate the corpus, and
    * how hard?") from d·w longs of state, no matter the vocabulary
    * size. Grid cell (j, b) = Σ count over words whose j-th hash lands
    * in bucket b; estimate(word) = min over the d rows — always an
    * OVER-estimate (one-sided error ≤ 2N/w per row w.h.p.), never
    * under. Every hash is the engine's md5Lower64 basis (row j's
    * bucket = bits 13j.. of one 63-bit hash), every counter a long
    * SUM — so the DuckDB twin rebuilds the grid AND the estimates
    * digit-for-digit, and the graded table is an accuracy table: the
    * top-20 exact counts beside their CMS estimates. Scale shape: the
    * corpus-sized stage is ONE wordcount (map-side combined); the grid
    * is d·w = 1024 longs that merge across shards by cellwise ADDITION
    * (linearity — SketchSpec-style pin in Round11Spec), i.e. profile
    * every ingest shard independently and fold, same as the KMV
    * discipline; the estimate join broadcasts the grid. A streaming
    * consumer keeps the grid as bounded state forever. */
  val CmsD = 4
  val CmsW = 256L
  val CmsTopN = 20

  def sketchHeavyHitters(s: SparkSession, dir: String): DataFrame =
    cmsTable(Tables.load(s, dir, "documents"))

  /** Token-occurrence counts (the one corpus-sized pass). */
  private[graft] def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** The d×w counter grid off a (word, cnt) table — vocabulary-sized
    * input, 1024-row output, mergeable by cellwise sum. */
  private[graft] def cmsGrid(wc: DataFrame): DataFrame =
    wc.withColumn("b", shiftrightunsigned(
        graft.functions.TextHashOps.md5Lower64(concat(lit("cms:"), col("word"))), 1))
      .select(col("cnt"), explode(expr(s"sequence(0, ${CmsD - 1})")).as("j"), col("b"))
      .withColumn("bucket", expr(s"shiftright(b, 13 * j) % $CmsW"))
      .groupBy("j", "bucket").agg(sum(col("cnt")).as("counter"))

  private[graft] def cmsTable(docs: DataFrame): DataFrame = {
    // one tokenize pass feeds both the grid and the exact top-20 (the
    // bm25 lesson: don't let per-branch pruning re-scan the corpus)
    val wc = wordCounts(docs).persist()
    try {
    val grid = cmsGrid(wc)
    val top = wc.orderBy(col("cnt").desc, col("word").asc).limit(CmsTopN)
      .withColumn("b", shiftrightunsigned(
        graft.functions.TextHashOps.md5Lower64(concat(lit("cms:"), col("word"))), 1))
    top.select(col("word"), col("cnt"), explode(expr(s"sequence(0, ${CmsD - 1})")).as("j"), col("b"))
      .withColumn("bucket", expr(s"shiftright(b, 13 * j) % $CmsW"))
      .join(broadcast(grid), Seq("j", "bucket"))
      .groupBy("word").agg(max(col("cnt")).as("n_exact"), min(col("counter")).as("est_cms"))
      .localCheckpoint(true)
      .orderBy(col("n_exact").desc, col("word").asc)
    } finally wc.unpersist(blocking = false)
  }

  val sketchHeavyHittersSql: String =
    s"""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |           FROM documents),
       |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
       |hb AS (SELECT word, cnt,
       |         CAST((md5_number_lower('cms:' || word) >> 1) AS BIGINT) AS b FROM wc),
       |grid AS (SELECT j, (b >> (13 * j)) % $CmsW AS bucket,
       |           CAST(sum(cnt) AS BIGINT) AS counter
       |         FROM hb CROSS JOIN range($CmsD) r(j) GROUP BY 1, 2),
       |top AS (SELECT word, cnt, b FROM (
       |    SELECT word, cnt, b, row_number() OVER (ORDER BY cnt DESC, word ASC) AS rn
       |    FROM hb) WHERE rn <= $CmsTopN)
       |SELECT t.word, t.cnt AS n_exact, min(g.counter) AS est_cms
       |FROM top t CROSS JOIN range($CmsD) r(j)
       |JOIN grid g ON g.j = r.j AND g.bucket = (t.b >> (13 * r.j)) % $CmsW
       |GROUP BY 1, 2
       |ORDER BY n_exact DESC, word ASC""".stripMargin

  /** The grid alone — the STREAMING twin's oracle (the stream_kmv
    * discipline: a live stream keeps the ≤ d·w counters as bounded
    * state forever, but the exact top-N would grow state with the
    * vocabulary, so the streamed operator carries only the sketch).
    * Counting occurrences directly equals summing word counts into
    * cells — linearity again. */
  val cmsStreamSql: String =
    s"""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |           FROM documents),
       |hb AS (SELECT CAST((md5_number_lower('cms:' || word) >> 1) AS BIGINT) AS b FROM w)
       |SELECT j, (b >> (13 * j)) % $CmsW AS bucket, CAST(count(*) AS BIGINT) AS counter
       |FROM hb CROSS JOIN range($CmsD) r(j)
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** HYPERLOGLOG register sketch — the KMV sibling with O(m) state and
    * per-register MAX merge (Flajolet et al., AofA'07): hash each
    * member once, low 6 bits pick one of m = 64 registers, the
    * register keeps the MAX of ρ(w) = 1 + leading-zeros of the
    * remaining 57 bits. Cross-engine exact ρ: both engines derive it
    * as 58 − length(bin(w)) off the same md5 basis (bin() prints the
    * minimal binary string on both). The graded RAW estimator
    * E = α·m²/Σ2^(−M_j) is computed exactly — Σ2^(−M_j) scaled by
    * 2^58 is an integer sum of longs (DECIMAL-accumulated: 64 empty
    * registers would exceed Int64), α as the ppm integer 709437, one
    * integral-division chain — so the accuracy table (n_exact beside
    * est_hll, plus the register checksums and the zero-register count
    * the bias corrections key off) reproduces digit-for-digit on both
    * engines. No float corrections are applied: the graded artifact is
    * the raw-regime estimator plus everything a consumer needs to
    * apply its own correction, all integer-exact. Scale shape: the
    * corpus-sized stage is one map-side-combined (group, register)
    * MAX — 64 longs per group cross the wire, shard sketches fold by
    * cellwise max (pinned in Round12Spec), the classic
    * profile-each-shard-then-fold discipline. */
  val HllM = 64          // registers (p = 6 bits)
  val HllAlphaPpm = 709437L // floor(1e6 * 0.7213/(1 + 1.079/64))

  def sketchDistinctHll(s: SparkSession, dir: String): DataFrame =
    hllTable(s, Tables.load(s, dir, "events")).orderBy("event_type")

  /** The (group, register) → max-ρ grid: vocabulary-independent,
    * mergeable by cellwise max. Registers a group never touched are
    * absent here; hllTable joins them back as 0. */
  private[graft] def hllGrid(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
          concat(lit("hll:"), col("user_id").cast("string"))), 1).as("h"))
      .select(col("event_type"), expr(s"h % $HllM").as("j"),
        expr("shiftright(h, 6)").as("w"))
      .groupBy("event_type", "j")
      .agg(max(when(col("w") === 0L, 58L)
        .otherwise(lit(58L) - length(bin(col("w"))))).as("m"))

  /** Finalize a (event_type, j, m) register grid into the estimate
    * table — shared by the batch and streaming operators so the
    * register fill-in and estimate arithmetic are identical by
    * construction. */
  private[graft] def hllFinalize(s: SparkSession, grid: DataFrame): DataFrame = {
    val groups = grid.select("event_type").distinct()
    val full = groups.crossJoin(
        broadcast(s.range(HllM).select(col("id").as("j"))))
      .join(grid, Seq("event_type", "j"), "left")
      .withColumn("m", coalesce(col("m"), lit(0L)))
    full.groupBy("event_type").agg(
        sum(when(col("m") === 0L, 1L).otherwise(0L)).as("v_zero"),
        sum(col("m")).as("sum_rho"),
        sum(expr("(j + 1) * m")).as("wsum_rho"),
        sum(expr("cast(shiftleft(1L, cast(58 - m as int)) as decimal(38,0))")).as("sden"))
      .select(col("event_type"), col("v_zero"), col("sum_rho"), col("wsum_rho"),
        expr(s"cast(cast(${HllAlphaPpm * HllM * HllM} as decimal(38,0))" +
          s" * 288230376151711744 div sden div 1000000 as long)").as("est_hll"))
  }

  private[graft] def hllTable(s: SparkSession, ev: DataFrame): DataFrame = {
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(hllFinalize(s, hllGrid(ev)), "event_type")
      .select("event_type", "n_exact", "v_zero", "sum_rho", "wsum_rho", "est_hll")
  }

  /** The sketch columns alone (no n_exact) — the STREAMING twin's
    * oracle (the stream_kmv discipline: a live stream keeps the ≤ m
    * max-registers per group as bounded state forever; the exact
    * distinct count would grow state without bound). */
  val sketchHllStreamSql: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |             CAST((md5_number_lower('hll:' || user_id) >> 1) AS BIGINT) AS h
       |           FROM events),
       |b AS (SELECT event_type, h % $HllM AS j, h >> 6 AS w FROM h),
       |r AS (SELECT event_type, j,
       |        CAST(max(CASE WHEN w = 0 THEN 58
       |                      ELSE 58 - length(bin(w)) END) AS BIGINT) AS m
       |      FROM b GROUP BY 1, 2),
       |g AS (SELECT event_type, CAST(gs.j AS BIGINT) AS j
       |      FROM (SELECT DISTINCT event_type FROM events)
       |      CROSS JOIN range($HllM) gs(j)),
       |reg AS (SELECT g.event_type, g.j, COALESCE(r.m, 0) AS m
       |        FROM g LEFT JOIN r ON r.event_type = g.event_type AND r.j = g.j),
       |agg AS (SELECT event_type,
       |          CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
       |          CAST(sum(m) AS BIGINT) AS sum_rho,
       |          CAST(sum((j + 1) * m) AS BIGINT) AS wsum_rho,
       |          sum(1::HUGEINT << CAST(58 - m AS INT)) AS sden
       |        FROM reg GROUP BY 1)
       |SELECT event_type, v_zero, sum_rho, wsum_rho,
       |  CAST(${HllAlphaPpm * HllM * HllM}::HUGEINT * 288230376151711744
       |       // sden // 1000000 AS BIGINT) AS est_hll
       |FROM agg ORDER BY event_type""".stripMargin

  /** HLL SET OPERATIONS — the union/intersection profile from register
    * sketches alone (the theta-sketch use case run on the HLL family):
    * HLL registers fold by cellwise MAX into exactly the union's
    * sketch (lossless for the union — the property Round12Spec pins),
    * so |A∪B| reads off the folded registers through the SAME raw
    * estimator, and |A∩B| estimates by inclusion–exclusion
    * est_a + est_b − est_union — deliberately allowed to go negative
    * on disjoint sets (that IS the raw inclusion–exclusion value; a
    * consumer clamps, and grading the raw integer keeps every cell
    * reproducible). The graded table carries the exact intersection
    * beside all three estimates — the family's accuracy-table
    * discipline. Scale: register grids are 64 longs per group; the
    * pair stage joins grids, never members. */
  def sketchHllSetOps(s: SparkSession, dir: String): DataFrame =
    hllSetOpsTable(s, Tables.load(s, dir, "events"))

  private[graft] def hllSetOpsTable(s: SparkSession, ev: DataFrame): DataFrame = {
    val grid = hllGrid(ev)
    val groups = grid.select("event_type").distinct()
    val full = groups.crossJoin(
        broadcast(s.range(HllM).select(col("id").as("j"))))
      .join(grid, Seq("event_type", "j"), "left")
      .withColumn("m", coalesce(col("m"), lit(0L)))
    val pairsReg = full.alias("a").join(full.alias("b"),
        col("a.j") === col("b.j") && col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        greatest(col("a.m"), col("b.m")).as("mu"),
        col("a.m").as("ma"), col("b.m").as("mb"))
    def den(c: String) =
      sum(expr(s"cast(shiftleft(1L, cast(58 - $c as int)) as decimal(38,0))"))
    val agg = pairsReg.groupBy("type_a", "type_b")
      .agg(den("mu").as("su"), den("ma").as("sa"), den("mb").as("sb"))
    def est(c: String) =
      expr(s"cast(cast(${HllAlphaPpm * HllM * HllM} as decimal(38,0))" +
        s" * 288230376151711744 div $c div 1000000 as long)")
    val users = ev.select("event_type", "user_id").distinct()
    val exact = users.alias("x").join(users.alias("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    agg.join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
        est("sa").as("est_a"), est("sb").as("est_b"), est("su").as("est_union"))
      .withColumn("inter_incl_excl",
        col("est_a") + col("est_b") - col("est_union"))
      .orderBy("type_a", "type_b")
  }

  val sketchHllSetOpsSql: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |             CAST((md5_number_lower('hll:' || user_id) >> 1) AS BIGINT) AS h
       |           FROM events),
       |b AS (SELECT event_type, h % $HllM AS j, h >> 6 AS w FROM h),
       |r AS (SELECT event_type, j,
       |        CAST(max(CASE WHEN w = 0 THEN 58
       |                      ELSE 58 - length(bin(w)) END) AS BIGINT) AS m
       |      FROM b GROUP BY 1, 2),
       |g AS (SELECT event_type, CAST(gs.j AS BIGINT) AS j
       |      FROM (SELECT DISTINCT event_type FROM events)
       |      CROSS JOIN range($HllM) gs(j)),
       |reg AS (SELECT g.event_type, g.j, COALESCE(r.m, 0) AS m
       |        FROM g LEFT JOIN r ON r.event_type = g.event_type AND r.j = g.j),
       |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         greatest(a.m, b.m) AS mu, a.m AS ma, b.m AS mb
       |       FROM reg a JOIN reg b ON a.j = b.j AND a.event_type < b.event_type),
       |agg AS (SELECT type_a, type_b,
       |          sum(1::HUGEINT << CAST(58 - mu AS INT)) AS su,
       |          sum(1::HUGEINT << CAST(58 - ma AS INT)) AS sa,
       |          sum(1::HUGEINT << CAST(58 - mb AS INT)) AS sb
       |        FROM pr GROUP BY 1, 2),
       |du AS (SELECT DISTINCT event_type, user_id FROM events),
       |ex AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
       |         CAST(count(*) AS BIGINT) AS n_exact_inter
       |       FROM du x JOIN du y ON x.user_id = y.user_id
       |         AND x.event_type < y.event_type
       |       GROUP BY 1, 2),
       |est AS (SELECT type_a, type_b,
       |   CAST(${HllAlphaPpm * HllM * HllM}::HUGEINT * 288230376151711744 // sa // 1000000 AS BIGINT) AS est_a,
       |   CAST(${HllAlphaPpm * HllM * HllM}::HUGEINT * 288230376151711744 // sb // 1000000 AS BIGINT) AS est_b,
       |   CAST(${HllAlphaPpm * HllM * HllM}::HUGEINT * 288230376151711744 // su // 1000000 AS BIGINT) AS est_union
       | FROM agg)
       |SELECT est.type_a, est.type_b, COALESCE(ex.n_exact_inter, 0) AS n_exact_inter,
       |  est_a, est_b, est_union, est_a + est_b - est_union AS inter_incl_excl
       |FROM est LEFT JOIN ex ON ex.type_a = est.type_a AND ex.type_b = est.type_b
       |ORDER BY est.type_a, est.type_b""".stripMargin

  val sketchDistinctHllSql: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |             CAST((md5_number_lower('hll:' || user_id) >> 1) AS BIGINT) AS h
       |           FROM events),
       |b AS (SELECT event_type, h % $HllM AS j, h >> 6 AS w FROM h),
       |r AS (SELECT event_type, j,
       |        CAST(max(CASE WHEN w = 0 THEN 58
       |                      ELSE 58 - length(bin(w)) END) AS BIGINT) AS m
       |      FROM b GROUP BY 1, 2),
       |g AS (SELECT event_type, CAST(gs.j AS BIGINT) AS j
       |      FROM (SELECT DISTINCT event_type FROM events)
       |      CROSS JOIN range($HllM) gs(j)),
       |reg AS (SELECT g.event_type, g.j, COALESCE(r.m, 0) AS m
       |        FROM g LEFT JOIN r ON r.event_type = g.event_type AND r.j = g.j),
       |agg AS (SELECT event_type,
       |          CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
       |          CAST(sum(m) AS BIGINT) AS sum_rho,
       |          CAST(sum((j + 1) * m) AS BIGINT) AS wsum_rho,
       |          sum(1::HUGEINT << CAST(58 - m AS INT)) AS sden
       |        FROM reg GROUP BY 1),
       |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       |       FROM events GROUP BY 1)
       |SELECT ex.event_type, n_exact, v_zero, sum_rho, wsum_rho,
       |  CAST(${HllAlphaPpm * HllM * HllM}::HUGEINT * 288230376151711744
       |       // sden // 1000000 AS BIGINT) AS est_hll
       |FROM ex JOIN agg USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** COLUMN-PROFILE report — the Deequ-shaped table a pipeline runs
    * before it curates: per column, row/null/exact-distinct counts,
    * the HLL estimate BESIDE the exact count (the at-scale substitute,
    * accuracy visible on the gate), and integer min/max (cents for the
    * money column, NULL for categorical). One projection feeds every
    * branch (persisted — the bm25 single-scan discipline); each
    * column's metrics are wordcount-shaped aggregates, and the HLL
    * estimate reuses the register machinery verbatim on a
    * column-tagged hash basis. Output is one row per column — a
    * dimension-bounded report at any corpus size. */
  def dataProfile(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"),
        col("event_type"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    def prof(cn: String, numeric: Boolean): DataFrame = {
      val sv = col(cn).cast("string")
      val grid = e.filter(col(cn).isNotNull)
        .select(shiftrightunsigned(graft.functions.TextHashOps.md5Lower64(
          concat(lit(s"prof:$cn:"), sv)), 1).as("h"))
        .select(expr(s"h % $HllM").as("j"), expr("shiftright(h, 6)").as("w"))
        .groupBy("j")
        .agg(max(when(col("w") === 0L, 58L)
          .otherwise(lit(58L) - length(bin(col("w"))))).as("m"))
      val est = broadcast(s.range(HllM).select(col("id").as("j")))
        .join(grid, Seq("j"), "left")
        .withColumn("m", coalesce(col("m"), lit(0L)))
        .agg(sum(expr("cast(shiftleft(1L, cast(58 - m as int)) as decimal(38,0))")).as("sden"))
        .select(expr(s"cast(cast(${HllAlphaPpm * HllM * HllM} as decimal(38,0))" +
          s" * 288230376151711744 div sden div 1000000 as long)").as("est_hll"))
      val base = e.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(cn).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(cn)).as("n_distinct"),
        (if (numeric) min(col(cn)).cast("long") else lit(null).cast("long")).as("min_long"),
        (if (numeric) max(col(cn)).cast("long") else lit(null).cast("long")).as("max_long"))
      base.crossJoin(est).select(lit(cn).as("col_name"), col("n_rows"),
        col("n_null"), col("n_distinct"), col("est_hll"),
        col("min_long"), col("max_long"))
    }
    prof("event_id", numeric = true)
      .unionAll(prof("user_id", numeric = true))
      .unionAll(prof("value_cents", numeric = true))
      .unionAll(prof("event_type", numeric = false))
      .localCheckpoint(true)
      .orderBy("col_name")
    } finally e.unpersist(blocking = false)
  }

  val dataProfileSql: String = {
    def one(cn: String, numeric: Boolean): String = {
      val minMax =
        if (numeric)
          s"CAST(min($cn) AS BIGINT) AS min_long, CAST(max($cn) AS BIGINT) AS max_long"
        else "CAST(NULL AS BIGINT) AS min_long, CAST(NULL AS BIGINT) AS max_long"
      s"""SELECT '$cn' AS col_name,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $cn) AS BIGINT) AS n_distinct,
         |  (WITH hh AS (SELECT DISTINCT
         |      CAST((md5_number_lower('prof:$cn:' || CAST($cn AS VARCHAR)) >> 1) AS BIGINT) AS h
         |      FROM e WHERE $cn IS NOT NULL),
         |    rr AS (SELECT h % $HllM AS j,
         |      CAST(max(CASE WHEN (h >> 6) = 0 THEN 58
         |                    ELSE 58 - length(bin(h >> 6)) END) AS BIGINT) AS m
         |      FROM hh GROUP BY 1),
         |    reg AS (SELECT gs.j, COALESCE(rr.m, 0) AS m
         |      FROM range($HllM) gs(j) LEFT JOIN rr ON rr.j = gs.j)
         |    SELECT CAST(${HllAlphaPpm * HllM * HllM}::HUGEINT * 288230376151711744
         |      // sum(1::HUGEINT << CAST(58 - m AS INT)) // 1000000 AS BIGINT) FROM reg
         |  ) AS est_hll,
         |  $minMax
         |FROM e""".stripMargin
    }
    s"""WITH e AS (SELECT event_id, user_id,
       |  CAST(round(value*100) AS BIGINT) AS value_cents, event_type FROM events)
       |${Seq(one("event_id", true), one("user_id", true),
      one("value_cents", true), one("event_type", false))
      .mkString("\n(", ")\nUNION ALL\n(", ")")}
       |ORDER BY col_name""".stripMargin
  }

  /** The profile columns WITHOUT the exact distinct — the STREAMING
    * twin's oracle (the stream_kmv discipline: a live profiler keeps
    * bounded state — counters, min/max, ≤m registers per column —
    * forever, while count(DISTINCT) would grow state with the column's
    * cardinality, so the streamed report carries only the sketch
    * estimate). */
  val dataProfileStreamSql: String = {
    def one(cn: String, numeric: Boolean): String = {
      val minMax =
        if (numeric)
          s"CAST(min($cn) AS BIGINT) AS min_long, CAST(max($cn) AS BIGINT) AS max_long"
        else "CAST(NULL AS BIGINT) AS min_long, CAST(NULL AS BIGINT) AS max_long"
      s"""SELECT '$cn' AS col_name,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  (WITH hh AS (SELECT DISTINCT
         |      CAST((md5_number_lower('prof:$cn:' || CAST($cn AS VARCHAR)) >> 1) AS BIGINT) AS h
         |      FROM e WHERE $cn IS NOT NULL),
         |    rr AS (SELECT h % $HllM AS j,
         |      CAST(max(CASE WHEN (h >> 6) = 0 THEN 58
         |                    ELSE 58 - length(bin(h >> 6)) END) AS BIGINT) AS m
         |      FROM hh GROUP BY 1),
         |    reg AS (SELECT gs.j, COALESCE(rr.m, 0) AS m
         |      FROM range($HllM) gs(j) LEFT JOIN rr ON rr.j = gs.j)
         |    SELECT CAST(${HllAlphaPpm * HllM * HllM}::HUGEINT * 288230376151711744
         |      // sum(1::HUGEINT << CAST(58 - m AS INT)) // 1000000 AS BIGINT) FROM reg
         |  ) AS est_hll,
         |  $minMax
         |FROM e""".stripMargin
    }
    s"""WITH e AS (SELECT event_id, user_id,
       |  CAST(round(value*100) AS BIGINT) AS value_cents, event_type FROM events)
       |${Seq(one("event_id", true), one("user_id", true),
      one("value_cents", true), one("event_type", false))
      .mkString("\n(", ")\nUNION ALL\n(", ")")}
       |ORDER BY col_name""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "data_profile" -> (dataProfile _),
    "sketch_distinct_hll" -> (sketchDistinctHll _),
    "sketch_hll_setops" -> (sketchHllSetOps _),
    "sketch_distinct_kmv" -> (sketchDistinctKmv _),
    "sketch_quantiles_sample" -> (sketchQuantilesSample _),
    "sketch_set_ops" -> (sketchSetOps _),
    "sketch_heavy_hitters" -> (sketchHeavyHitters _))
  val oracles: Map[String, String] = Map(
    "data_profile" -> dataProfileSql,
    "sketch_distinct_hll" -> sketchDistinctHllSql,
    "sketch_hll_setops" -> sketchHllSetOpsSql,
    "sketch_distinct_kmv" -> sketchDistinctKmvSql,
    "sketch_quantiles_sample" -> sketchQuantilesSampleSql,
    "sketch_set_ops" -> sketchSetOpsSql,
    "sketch_heavy_hitters" -> sketchHeavyHittersSql)
}
